"""Optimized Product Quantization: the learned-rotation recall upgrade to PQ.

Composes the exact distributed PCA (``pca.py``) with the PQ machinery
(``pq.py``) — the r13 VERDICT ask #4. Plain PQ splits the RAW coordinate
axes into M contiguous subspaces; when the corpus is anisotropic (real
embedding corpora are), variance lands unevenly across subspaces and the
per-subspace codebooks waste codewords. OPQ first applies a LEARNED
orthonormal rotation R, chosen so the subspaces carry balanced variance,
then trains/encodes plain PQ on the rotated vectors. Serving cost is
IDENTICAL to flat PQ: the rotation folds into the encode step (corpus
side, one linear pass) and into the driver-side query prep — the ADC scan
still reads M codes per row and sums M LUT lookups.

This is the parametric OPQ variant (Ge et al., "Optimized Product
Quantization", CVPR 2013, §4: eigenvalue allocation): R's rows are the
full-rank principal directions, PERMUTED so that each subspace's product
of eigenvalues (the quantity the per-subspace distortion tracks) is
balanced — a greedy assignment of directions in descending-eigenvalue
order to the subspace with the smallest current log-product. The
iterative OPQ-NP refinement alternates R and codebooks; the parametric
form captures most of the gain with ONE extra statistics pass and keeps
the whole pipeline deterministic (the PCA pass is the exact bigint Gram
pass of ``pca.py`` — oracle-backed via ``embed_gram_matrix``).

Scale shape (100 TB): the rotation is a (d×d) KB literal applied as
zip_with/aggregate HOFs per row — zero Exchange, same plan family as
``pca.pca_project``; everything downstream is the already-plan-pinned PQ
path (partial-agg codebook training, shuffle-free encode,
TakeOrderedAndProject ADC scan).

The eigen/allocation phase is driver-side numpy, not SQL-expressible, so
``ann_opq_topk`` registers rows-only (the ``embed_pca_project``
precedent); recall ≥ flat PQ is pytest-pinned on planted corpora
(tests/test_opq.py), and the statistics the rotation consumes carry the
hard cross-engine oracle in ``embed_gram_matrix``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame
from .pca import DIM, gram_matrix, dim_stats, pca_project, _eigen_decomp
from .pq import _PQ_DSUB, _PQ_K, _PQ_M, _quantized, pq_adc_topk, pq_encode, train_pq_codebooks
from .similarity import quantize


def _allocate_dims(eigvals, m_subs: int, dsub: int) -> list[int]:
    """Eigenvalue allocation (Ge et al. 2013 §4.2): assign principal
    directions, in descending-eigenvalue order, to the subspace with the
    smallest current log-eigenvalue-product (ties to the lowest subspace
    id — deterministic). Returns the row permutation: the first ``dsub``
    entries are subspace 0's directions, and so on."""
    buckets: list[list[int]] = [[] for _ in range(m_subs)]
    logp = [0.0] * m_subs
    for i, v in enumerate(eigvals):
        open_b = [b for b in range(m_subs) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda bb: (logp[bb], bb))
        buckets[b].append(i)
        logp[b] += math.log(max(float(v), 1e-12))
    return [i for bucket in buckets for i in bucket]


def opq_rotation(
    embs: DataFrame, m_subs: int = _PQ_M, dsub: int = _PQ_DSUB
) -> tuple[list[list[float]], list[float]]:
    """(R, mean): the OPQ rotation — full-rank exact PCA (distributed
    bigint Gram pass + driver eigh) with rows permuted by eigenvalue
    allocation. R is (d, d) orthonormal; rotating is y = R(x − μ)."""
    g_rows = gram_matrix(embs).collect()
    d_rows = dim_stats(embs).collect()
    vals, comps, mean = _eigen_decomp(g_rows, d_rows)
    perm = _allocate_dims(vals, m_subs, dsub)
    r = [list(map(float, comps[i])) for i in perm]
    return r, [float(m) for m in mean]


def opq_rotate(embs: DataFrame, rotation, mean) -> DataFrame:
    """(vec_id, label, embedding): the corpus in rotated coordinates —
    a zero-shuffle per-row matmul against the KB rotation literal
    (``pca.pca_project`` with k = d)."""
    return pca_project(embs, rotation, mean).select(
        "vec_id", "label", F.col("y").alias("embedding")
    )


def train_opq(
    embs: DataFrame, m_subs: int = _PQ_M, k: int = _PQ_K, dsub: int = _PQ_DSUB
):
    """(rotation, mean, codebooks): the full OPQ model — learned rotation,
    then plain PQ codebooks trained in the rotated space."""
    rotation, mean = opq_rotation(embs, m_subs, dsub)
    rotated = opq_rotate(embs, rotation, mean)
    codebooks = train_pq_codebooks(rotated, m_subs, k, dsub)
    return rotation, mean, codebooks


def _rotate_query(vec, rotation, mean) -> list[float]:
    """Driver-side y = R(x − μ) for one query vector."""
    centered = [float(x) - float(m) for x, m in zip(vec, mean)]
    return [sum(r[j] * centered[j] for j in range(len(centered))) for r in rotation]


def opq_adc_topk(
    encoded: DataFrame,
    query_vec,
    rotation,
    mean,
    codebooks,
    k: int = 10,
    dsub: int = _PQ_DSUB,
) -> DataFrame:
    """Top-k by ADC distance in the rotated space: rotate + fixed-point
    quantize the query driver-side, then the standard LUT scan — the scan
    itself is byte-identical in cost to flat PQ."""
    from .similarity import _SCALE

    rq = [int(math.floor(x * _SCALE)) for x in _rotate_query(query_vec, rotation, mean)]
    return pq_adc_topk(encoded, rq, codebooks, k=k, dsub=dsub)


@query("ann_opq_topk", oracle=None)
def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-compressed ANN over the embeddings table: learned rotation
    (exact PCA + eigenvalue allocation), PQ codebooks in the rotated
    space, ADC top-10 for vec_id 0's vector. Rows-only: the eigen phase
    is driver-side numpy (``embed_pca_project`` precedent) — the Gram
    statistics behind the rotation are oracle-backed in
    ``embed_gram_matrix``, and recall ≥ flat PQ is pytest-pinned
    (tests/test_opq.py)."""
    emb = tpch.load(spark, sf_dir, "embeddings")
    rotation, mean, codebooks = train_opq(emb)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(v) for v in qrow[0]["embedding"]]
    rotated = opq_rotate(emb, rotation, mean)
    encoded = pq_encode(rotated, codebooks).filter(F.col("vec_id") != 0)
    return opq_adc_topk(encoded, qvec, rotation, mean, codebooks, k=10)


# --- Oracle-backed recall audit (r15, VERDICT r14 ask #6) --------------------
#
# The learned-rotation OPQ recall stays pytest-pinned (the eigen phase has
# no SQL twin), but the MEASUREMENT gap the IVF family closed with
# ann_ivf_recall can be closed with a hard cross-engine oracle for the
# PARAMETRIC-PERMUTATION variant: instead of rotating by eigenvectors,
# permute the raw axes so per-dimension variance is balanced across the
# M subspaces (the OPQ paper's pre-rotation baseline — a pure dimension
# reorder preserves L2 exactly, so brute-force distances are unchanged
# and the permutation only improves how PQ splits the space). Every step
# is exact-integer / rank arithmetic, so DuckDB replays the WHOLE chain:
#
# 1. per-dim variance keys n·S2 − S1² over 1e7 fixed-point values, in
#    decimal(38,0) (Spark) / HUGEINT (DuckDB) — exact past int64, the
#    Gini/peak-rate discipline;
# 2. snake (boustrophedon) allocation: dims sorted by variance key desc
#    (ties → dim id) are dealt to subspaces 0..M−1, M−1..0, ... — a
#    variance-balancing rule that is PURE row_number arithmetic (no logs,
#    no float comparisons, unlike greedy log-product allocation);
# 3. the standard SQL-replayable PQ pipeline (seed→assign→FLOOR-mean
#    update→encode) on the permuted vectors;
# 4. batched ADC: per-query LUTs joined to exploded codes (the KB LUT
#    table broadcast — at 100 TB this is n_queries·M·K rows against a
#    partial-aggregated code scan);
# 5. recall@k per query vs the exact int64 brute top-k (computed in the
#    UNPERMUTED space — identical distances by orthogonality).


def variance_snake_permutation(
    embs: DataFrame, m_subs: int = _PQ_M, dsub: int = _PQ_DSUB
) -> list[int]:
    """``perm_src[newpos] = original dim`` — dims ranked by exact integer
    variance key (n·S2 − S1² over quantized values, decimal(38,0)) and
    snake-dealt into subspaces: rank r → round r//M, lane r%M, subspace =
    lane on even rounds / M−1−lane on odd, slot = round. Each round deals
    one dim to every subspace, so high-variance dims spread evenly."""
    d = m_subs * dsub
    stats = (
        embs.select(quantize(F.col("embedding")).alias("q"))
        .select(F.posexplode("q").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(F.col("val").cast("decimal(38,0)")).alias("s1"),
            F.sum((F.col("val") * F.col("val")).cast("decimal(38,0)")).alias("s2"),
        )
        .select(
            "pos",
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("vkey"),
        )
        .collect()
    )
    if len(stats) != d:
        raise ValueError(f"expected {d} dims, got {len(stats)}")
    ranked = sorted(stats, key=lambda r: (-int(r["vkey"]), int(r["pos"])))
    perm_src = [0] * d
    for r_idx, row in enumerate(ranked):
        rnd, lane = divmod(r_idx, m_subs)
        sub = lane if rnd % 2 == 0 else m_subs - 1 - lane
        perm_src[sub * dsub + rnd] = int(row["pos"])
    return perm_src


def permute_embedding(embs: DataFrame, perm_src: list[int]) -> DataFrame:
    """Apply the axis permutation as a zero-shuffle literal projection
    (quantization is elementwise, so permute-then-quantize ==
    quantize-then-permute — the oracle does the latter)."""
    arr = F.array(
        *[F.element_at(F.col("embedding"), int(p) + 1) for p in perm_src]
    )
    return embs.select("vec_id", "label", arr.alias("embedding"))


def opq_perm_recall_audit(
    embs: DataFrame,
    k: int = 10,
    query_mod: int = 50,
    m_subs: int = _PQ_M,
    kcw: int = _PQ_K,
    dsub: int = _PQ_DSUB,
    perm: list[int] | None = None,
) -> DataFrame:
    """(query_id, n_hits, recall) per query vector (vec_id % query_mod == 0):
    overlap between the exact brute top-k and the permuted-PQ ADC top-k.
    Same output contract as :func:`similarity.ivf_recall_audit`. ``perm``
    overrides the learned permutation (identity = flat-PQ baseline, the
    A/B the tests pin)."""
    from .pq import _adc_lut, _sqdist_q

    if perm is None:
        perm = variance_snake_permutation(embs, m_subs, dsub)
    emb_p = permute_embedding(embs, perm)
    codebooks = train_pq_codebooks(emb_p, m_subs, kcw, dsub)

    spark = embs.sparkSession
    qrows = (
        _quantized(emb_p)
        .filter(F.col("vec_id") % query_mod == 0)
        .select("vec_id", "q")
        .collect()
    )
    lut_rows = []
    for r in qrows:
        lut = _adc_lut([int(v) for v in r["q"]], codebooks, dsub)
        for m in range(m_subs):
            for code in range(kcw):
                lut_rows.append((int(r["vec_id"]), m, code, int(lut[m][code])))
    lut_df = local_frame(spark, lut_rows, "qid bigint, m int, code int, adist bigint")

    encoded = pq_encode(emb_p, codebooks, dsub)
    wq = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("vec_id"))
    adc_topk = (
        encoded.select("vec_id", F.posexplode("codes").alias("m", "code"))
        .join(F.broadcast(lut_df), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("adist").cast("bigint").alias("adist"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )

    normed = _quantized(embs)
    queries = F.broadcast(
        normed.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("qid"), F.col("q").alias("qq")
        )
    )
    wb = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
    brute = (
        normed.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _sqdist_q(F.col("q"), F.col("qq")).alias("dist"))
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    hits = (
        brute.join(adc_topk, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k)), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


_OPQ_RECALL_SQL = """
WITH quant AS MATERIALIZED (
  SELECT vec_id, label,
         [CAST(FLOOR(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT) FOR x IN embedding] AS q
  FROM embeddings
),
dimstats AS (
  SELECT pos, CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(val) AS HUGEINT) AS s1,
         SUM(CAST(val * val AS HUGEINT)) AS s2
  FROM (SELECT UNNEST(range(len(q))) AS pos, UNNEST(q) AS val FROM quant)
  GROUP BY pos
),
ranked AS (
  SELECT pos,
         CAST(ROW_NUMBER() OVER (ORDER BY n * s2 - s1 * s1 DESC, pos) - 1 AS BIGINT) AS r
  FROM dimstats
),
snake AS (
  SELECT pos,
         (CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END) * 8 + (r // 8) AS newpos
  FROM ranked
),
permlist AS (SELECT list(pos ORDER BY newpos) AS perm FROM snake),
qp AS MATERIALIZED (
  SELECT t.vec_id, [t.q[p.perm[i+1] + 1] FOR i IN range(64)] AS q
  FROM quant t, permlist p
),
sub AS MATERIALIZED (
  SELECT vec_id, m, q[m*8+1 : m*8+8] AS sub
  FROM qp, (SELECT UNNEST(range(8)) AS m) ms
),
seed_ids AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM (SELECT vec_id FROM qp ORDER BY vec_id LIMIT 16)
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
codebook AS MATERIALIZED (
  SELECT s.m, s.code, COALESCE(u.cw, s.sub) AS cw
  FROM seeds s LEFT JOIN updlist u ON s.m = u.m AND s.code = u.code
),
cand2 AS (
  SELECT v.vec_id, v.m, c.code,
         CAST(list_sum([(v.sub[i+1]-c.cw[i+1])*(v.sub[i+1]-c.cw[i+1]) FOR i IN range(8)]) AS BIGINT) AS d
  FROM sub v JOIN codebook c ON v.m = c.m
),
codes AS MATERIALIZED (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM cand2) WHERE rn = 1
),
queries AS (SELECT vec_id AS qid FROM qp WHERE vec_id % 50 = 0),
qsub AS (SELECT vec_id AS qid, m, sub FROM sub WHERE vec_id % 50 = 0),
lut AS MATERIALIZED (
  SELECT qs.qid, c.m, c.code,
         CAST(list_sum([(qs.sub[i+1]-c.cw[i+1])*(qs.sub[i+1]-c.cw[i+1]) FOR i IN range(8)]) AS BIGINT) AS adist
  FROM codebook c JOIN qsub qs ON c.m = qs.m
),
scored AS (
  SELECT l.qid, cd.vec_id, CAST(SUM(l.adist) AS BIGINT) AS adist
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
  WHERE cd.vec_id <> l.qid
  GROUP BY l.qid, cd.vec_id
),
adc_topk AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rn
    FROM scored) WHERE rn <= 10
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT u.qid, t.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY u.qid
             ORDER BY CAST(list_sum([(t.q[i+1]-uq.q[i+1])*(t.q[i+1]-uq.q[i+1]) FOR i IN range(64)]) AS BIGINT),
                      t.vec_id
           ) AS rn
    FROM quant t, queries u JOIN quant uq ON uq.vec_id = u.qid
    WHERE t.vec_id <> u.qid
  ) WHERE rn <= 10
),
hits AS (
  SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM brute b
  WHERE EXISTS (SELECT 1 FROM adc_topk a WHERE a.qid = b.qid AND a.vec_id = b.vec_id)
  GROUP BY b.qid
)
SELECT u.qid AS query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0, 6) AS recall
FROM queries u LEFT JOIN hits h ON u.qid = h.qid
ORDER BY query_id
"""


@query("ann_opq_recall", oracle=_OPQ_RECALL_SQL)
def ann_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit for variance-permuted PQ (the SQL-expressible
    parametric OPQ variant): per query vector, the overlap between the
    exact int64 brute top-10 and the ADC top-10 in snake-permuted PQ
    space — DuckDB replays variance keys, the snake allocation, codebook
    training, encoding, the per-query LUTs, and both rankings exactly.
    The learned-ROTATION OPQ path stays measured by tests/test_opq.py
    (recall >= flat PQ); this key makes the permutation family's recall
    a hard cross-engine number the way ann_ivf_recall did for IVF."""
    emb = tpch.load(spark, sf_dir, "embeddings")
    return opq_perm_recall_audit(emb)

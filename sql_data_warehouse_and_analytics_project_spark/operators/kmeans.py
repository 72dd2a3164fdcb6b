"""Distributed Lloyd's k-means with a hash-verified training trajectory.

``similarity.train_ivf_centroids`` is the production quantizer trainer
(k-means++ seeding over a deterministic sample, ``F.avg`` mean updates)
— deterministic run-to-run, but not relationally expressible: the numpy
seeding walk has no SQL twin and the float means re-associate. This
module is the ORACLE-GRADE variant in the ``lr.py`` mold: FIXED seeds
(the k lowest-vec_id vectors), a FIXED iteration count, and every float
reduction in a fixed order, so the DuckDB oracle unrolls the whole
Lloyd trajectory into MATERIALIZED chained CTEs (w_t → assignment →
per-(cluster, dim) ordered mean folds → w_{t+1}) and the driver
hash-checks training, not just the final assignment.

Cross-engine float discipline (the lr.py conventions):
- squared L2 folds dimensions in INDEX ORDER: Spark ``zip_with`` +
  ordered ``F.aggregate`` (0.0 init); DuckDB ``list_reduce`` over a
  ``list_transform(range(...))`` (first-element init — 0.0+x ≡ x);
- argmin ties break to the LOWEST cluster id in both engines:
  ``F.min(struct(d, c_id))`` / ``min({'d': d, 'c': c_id})`` —
  lexicographic struct comparison;
- mean updates fold member values in SORTED VEC_ID ORDER, then divide
  by the cluster size (``fold="parity"``); ``fold="scale"`` swaps the
  ordered folds for partial-aggregating AVG — the production default
  (order-free up to fp association, map-side combine, no collected
  lists);
- a cluster emptied by reassignment keeps its previous centroid.

Scale: assignment is a shuffle-free literal-centroid projection
(``similarity.assign_list_col``; the broadcast-join twin takes over
past 256 clusters), the mean recompute is one posexplode→groupBy
shuffle of (cluster, dim, val) rows per round, and only the k×dim
centroid matrix touches the driver. T is a constant, not a function of
data. No reference counterpart — LLM-pipeline extension (textbook
Lloyd 1982).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import cached, released
from ..registry import query
from ..sources import tpch
from .similarity import _sq_dist, assign_list_col

_K = 4  # clusters
_T = 3  # Lloyd iterations (fixed → SQL-unrollable)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tpch.load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def fixed_seeds(vecs: DataFrame, k: int = _K) -> list[list[float]]:
    """The k lowest-vec_id vectors — the deterministic, SQL-expressible
    seeding the oracle replays (production seeding stays k-means++ in
    ``similarity._kmeanspp_seeds``)."""
    rows = vecs.orderBy("vec_id").limit(k).collect()
    return [[float(x) for x in r["v"]] for r in rows]


def kmeans_fixed(
    vecs: DataFrame, k: int = _K, iters: int = _T, fold: str = "scale"
) -> list[list[float]]:
    """Lloyd's k-means from :func:`fixed_seeds` → final centroid matrix.
    ``fold="parity"`` reproduces the oracle's vec_id-ordered mean folds
    bit-for-bit; ``fold="scale"`` (default) uses plain AVG."""
    if fold not in ("parity", "scale"):
        raise ValueError(f"fold must be 'parity' or 'scale', got {fold!r}")
    with released():
        vecs = cached(vecs)
        centroids = fixed_seeds(vecs, k)
        if not centroids:
            return []
        for _ in range(iters):
            assigned = vecs.withColumn(
                "c_id", assign_list_col(F.col("v"), centroids)
            ).select("vec_id", "c_id", F.posexplode("v").alias("pos", "val"))
            if fold == "parity":
                means = assigned.groupBy("c_id", "pos").agg(
                    (
                        F.aggregate(
                            F.transform(
                                F.sort_array(F.collect_list(F.struct("vec_id", "val"))),
                                lambda s: s["val"],
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        / F.count(F.lit(1)).cast("double")
                    ).alias("m")
                )
            else:
                means = assigned.groupBy("c_id", "pos").agg(F.avg("val").alias("m"))
            rows = (
                means.groupBy("c_id")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
                .select("c_id", F.transform("pairs", lambda s: s["m"]).alias("c"))
                .collect()
            )  # bounded: <= k rows of dim doubles (KB model state)
            new = {r["c_id"]: [float(x) for x in r["c"]] for r in rows}
            centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def assign_final(vecs: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, cluster, dist) under ``centroids`` — squared L2 to the
    winning centroid, 6dp on the output surface only."""
    dists = F.transform(
        F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]),
        lambda c: _sq_dist(c, F.col("v")),
    )
    return (
        vecs.select("vec_id", dists.alias("ds"))
        .select(
            "vec_id",
            (F.array_position("ds", F.array_min("ds")) - 1).cast("bigint").alias(
                "cluster"
            ),
            F.round(F.array_min("ds"), 6).alias("dist"),
        )
        .orderBy("vec_id")
    )


def _kmeans_sql(k: int = _K, iters: int = _T, dim: int = 64) -> str:
    """Unroll the Lloyd loop into MATERIALIZED chained CTEs (an inlined
    w_t is referenced twice per round — the evaluation tree would double
    per iteration, the lr.py lesson)."""
    sqd = (
        f"list_reduce(list_transform(range(1, {dim} + 1), "
        "i -> (CAST(v[i] AS DOUBLE) - c[i]) * (CAST(v[i] AS DOUBLE) - c[i])), "
        "(a, b) -> a + b)"
    )
    parts = [
        f"""WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding AS v FROM embeddings
),
w0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS c_id,
         list_transform(v, x -> CAST(x AS DOUBLE)) AS c
  FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT {k})
)"""
    ]
    for t in range(iters):
        parts.append(f"""a{t} AS MATERIALIZED (
  SELECT vec_id, (min({{'d': {sqd}, 'c': c_id}})).c AS c_id
  FROM vecs CROSS JOIN w{t} GROUP BY vec_id
),
m{t} AS MATERIALIZED (
  SELECT c_id, pos,
         list_reduce(list(val ORDER BY vec_id), (x, y) -> x + y)
           / CAST(COUNT(*) AS DOUBLE) AS m
  FROM (
    SELECT a.c_id, a.vec_id,
           UNNEST(list_transform(v, x -> CAST(x AS DOUBLE))) AS val,
           UNNEST(range(1, len(v) + 1)) AS pos
    FROM a{t} a JOIN vecs USING (vec_id)
  )
  GROUP BY c_id, pos
),
w{t + 1} AS MATERIALIZED (
  SELECT w.c_id,
         CASE WHEN COUNT(m.m) = 0 THEN w.c
              ELSE list(m.m ORDER BY m.pos) END AS c
  FROM w{t} w LEFT JOIN m{t} m USING (c_id)
  GROUP BY w.c_id, w.c
)""")
    parts.append(f"""af AS (
  SELECT vec_id, min({{'d': {sqd}, 'c': c_id}}) AS best
  FROM vecs CROSS JOIN w{iters} GROUP BY vec_id
)
SELECT vec_id,
       CAST((best).c AS BIGINT) AS cluster,
       ROUND((best).d, 6) AS dist
FROM af
ORDER BY vec_id""")
    return ",\n".join(parts)


_KMEANS_SQL = _kmeans_sql()


@query("cluster_kmeans_fixed", oracle=_KMEANS_SQL, defer=True)
def cluster_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embeddings table with the whole Lloyd trajectory
    under the hash check: 4 fixed seeds, 3 rounds, final (vec_id,
    cluster, dist). The oracle replays every assignment and every
    ordered mean fold through unrolled CTEs."""
    vecs = _vecs(spark, sf_dir)
    centroids = kmeans_fixed(vecs, fold="parity")
    return assign_final(vecs, centroids)

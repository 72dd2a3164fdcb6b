"""Similarity search over the ``embeddings`` table (array<float> vectors).

LLM-training-data pipeline primitives (north-star extension). All vector
math uses built-in higher-order functions (zip_with / aggregate / transform)
— JVM-side, no Python UDFs.

Cross-engine determinism: embeddings are quantized to int64 fixed-point
(FLOOR(x·1e7)) before any arithmetic. float→double widening is exact and
FLOOR of the same double is bit-identical everywhere, so dot products become
EXACT integer sums — order-independent under any shuffle and identical in
DuckDB. The true cosine differs from the quantized one by ~1e-7 relative,
irrelevant for ranking.

Scale design (100 TB of vectors):
- brute-force top-k against ONE query is a single scan + TakeOrderedAndProject
  (no shuffle); against a query BATCH it is a broadcast nested-loop —
  acceptable only for small batches.
- the IVF variant is the scale path: cluster centroids (here: per-label
  means, stand-ins for k-means) prune the scan to the probed partitions;
  at scale the table would be written partitioned/bucketed by centroid id so
  probing is partition pruning, not a filter.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame, write_local
from .text import SQL_NORM, normalize_content

_SCALE = 10_000_000.0  # 1e7 fixed-point quantization

# one constant drives the Spark defaults AND the oracle SQL thresholds for
# BOTH embedding near-dup variants (label-blocked and learned-cluster)
_SEM_THRESHOLD = 0.35
# one deterministic per-block candidate cap for the WHOLE semantic family —
# label-blocked, learned-cluster, and triplet mining (see the r11 note at
# its main usage site below _SEM_PROBES)
_SEM_CLUSTER_CAP = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.load(spark, sf_dir, "embeddings")


def quantize(col: Column) -> Column:
    """array<float> → array<bigint> fixed-point (exact in every engine)."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * F.lit(_SCALE)).cast("bigint"))


def dot_q(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def cosine_q(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from exact integer dot/norms; the float ops (sqrt, *, /) run on
    identical inputs in every engine, so results are bit-identical."""
    return dot_q(a, b).cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


SQL_QUANT = "[CAST(FLOOR(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT) FOR x IN embedding]"
SQL_NORM_Q = "CAST(list_sum([x * x FOR x IN q]) AS BIGINT)"


_ANN_TOPK_SQL = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, label, q, {SQL_NORM_Q} AS nq FROM quant
),
qv AS (SELECT q AS qq, nq AS nqq FROM normed WHERE vec_id = 0),
scored AS (
  SELECT n.vec_id, n.label,
         CAST(CAST(list_sum([n.q[i+1] * qv.qq[i+1] FOR i IN range(len(n.q))]) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(n.nq AS DOUBLE)) * sqrt(CAST(qv.nqq AS DOUBLE))) AS cosine
  FROM normed n, qv
  WHERE n.vec_id <> 0
)
SELECT vec_id, label, cosine
FROM scored
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@query("ann_cosine_topk", oracle=_ANN_TOPK_SQL, defer=True)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id 0 — the exact baseline
    every ANN variant is measured against. Single scan, no shuffle: the
    ordered limit compiles to TakeOrderedAndProject."""
    emb = _emb(spark, sf_dir)
    normed = emb.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    qv = F.broadcast(
        normed.filter(F.col("vec_id") == 0).select(
            F.col("q").alias("qq"), F.col("nq").alias("nqq")
        )
    )
    return (
        normed.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id",
            "label",
            cosine_q(F.col("q"), F.col("qq"), F.col("nq"), F.col("nqq")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_NEARDUP_SQL = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, label, q, {SQL_NORM_Q} AS nq FROM quant
),
capped AS (
  SELECT vec_id, label, q, nq FROM normed
  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= {_SEM_CLUSTER_CAP}
)
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2, a.label,
       CAST(CAST(list_sum([a.q[i+1] * b.q[i+1] FOR i IN range(len(a.q))]) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
FROM capped a
JOIN capped b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE CAST(CAST(list_sum([a.q[i+1] * b.q[i+1] FOR i IN range(len(a.q))]) AS BIGINT) AS DOUBLE)
        / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) >= {_SEM_THRESHOLD}
ORDER BY vec_id_1, vec_id_2
"""


@query("dedup_embedding_cosine", oracle=_NEARDUP_SQL, defer=True)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, label-blocked self-join.

    The label acts as the blocking key (at scale: a clustering/LSH bucket id,
    so the quadratic join only happens within buckets — bounded at O(cap²)
    per label by the family-wide r11 candidate cap, overflow auditable via
    :func:`block_overflow` on the label key). Threshold
    0.35 sits above the corpus' random-pair cosine mass but below its
    planted top pairs."""
    emb = _emb(spark, sf_dir)
    normed = emb.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    capped = _cap_cluster_members(normed, _SEM_CLUSTER_CAP, key="label")
    a = capped.alias("a")
    b = capped.alias("b")
    cos = cosine_q(F.col("a.q"), F.col("b.q"), F.col("a.nq"), F.col("b.nq"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            F.col("a.label").alias("label"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= _SEM_THRESHOLD)
        .orderBy("vec_id_1", "vec_id_2")
    )


# --- IVF index: k-means lists + centroid-partitioned storage ---------------
#
# The persisted scale path the ann_ivf_topk query's docstring promises: train
# coarse centroids with Lloyd iterations (every heavy step is a DataFrame op;
# only the n_lists×dim centroid matrix — KB-sized by definition — touches the
# driver, exactly like any broadcast model), write the vectors parquet-
# partitioned by their assigned list, and answer queries by reading ONLY the
# probed list partitions. Probing is directory-level partition PRUNING
# (PartitionFilters in the scan, asserted in tests/test_plans.py), not a
# filter over a full scan — at 100 TB a 3-of-64 probe reads ~5% of the files.


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """n_lists×dim centroid matrix as a literal array-of-arrays column."""
    return F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in centroids])


def assign_list_col(vec: Column, centroids: list[list[float]]) -> Column:
    """0-based nearest-centroid id as a PURE PROJECTION (no join, no shuffle):
    the centroid matrix is inlined as a literal, distances computed with
    higher-order functions, argmin via array_position on the computed mins.
    Right plan up to ~thousands of lists; past :data:`_ASSIGN_JOIN_LISTS`
    the generated expression outgrows codegen and
    :func:`assign_via_join` takes over."""
    dists = F.transform(_centroid_literal(centroids), lambda c: _sq_dist(c, vec))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


# Above this many lists, nearest-centroid assignment switches from the
# inlined-literal projection to a broadcast join: the literal's generated
# code grows linearly with n_lists (and is re-JIT-ed per stage), while the
# join plan is size-independent — broadcast the KB..MB centroid table,
# min_by per vec_id. The groupBy is a partial-aggregating shuffle of narrow
# (vec_id, best-so-far) rows, so it scales to any n_lists the index needs.
_ASSIGN_JOIN_LISTS = 256


def assign_via_join(
    vecs: DataFrame, centroids: list[list[float]], keep_vec: bool = True
) -> DataFrame:
    """(vec_id, v, list_id) via broadcast-join + ``min_by`` argmin — the
    large-``n_lists`` twin of :func:`assign_list_col` (bit-identical
    assignment: same squared-L2, ties broken to the LOWEST list id, matching
    array_position's first-match semantics). ``keep_vec=False`` returns just
    the narrow (vec_id, list_id) frame — callers that will re-join the
    assignment to their own table (build_ivf_index) should use it so the
    vector payload doesn't cross a redundant second shuffle join."""
    spark = vecs.sparkSession
    cent = F.broadcast(
        local_frame(
            spark,
            [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
            "list_id int, centroid array<double>",
        )
    )
    # the distance is computed and the vector projected away inside ONE
    # codegen stage — the argmin shuffle moves only narrow (vec_id, struct)
    # rows with map-side partial min, never the embedding payload
    scored = vecs.crossJoin(cent).select(
        "vec_id",
        F.struct(_sq_dist(F.col("centroid"), F.col("v")).alias("d"), "list_id").alias("s"),
    )
    # min over (d, list_id) structs = nearest centroid, lowest id on ties
    best = (
        scored.groupBy("vec_id")
        .agg(F.min("s").alias("best"))
        .select("vec_id", F.col("best.list_id").alias("list_id"))
    )
    if not keep_vec:
        return best
    return vecs.join(best, "vec_id")


def _kmeanspp_seeds(
    vecs: DataFrame, n_lists: int, sample_n: int | None = None
) -> list[list[float]]:
    """Deterministic k-means++ seeding over a deterministic sample.

    Sample = the ``sample_n`` rows with the lowest ``xxhash64(vec_id)`` —
    a uniform, order-independent draw that compiles to TakeOrderedAndProject
    (no shuffle of the full table). ``sample_n`` defaults to
    ``max(2048, 4·n_lists)`` so the sample always holds several candidate
    points per requested seed — a fixed 2048 would, above ~4M vectors
    (auto_n_lists > 2048), pad the seed list with duplicate centroids that
    lose every argmin tie-break and stay permanently empty. Even at the
    4096-list clamp the sample is ≤ 16384·dim doubles (MBs) — the only data
    that touches the driver — standard for model training.
    Seeding itself is classic k-means++ (first seed = lowest vec_id; each next
    seed drawn with probability ∝ D² to the nearest chosen seed) driven by a
    FIXED-SEED numpy Generator, so the result is bit-reproducible."""
    import numpy as np

    if sample_n is None:
        sample_n = max(2048, 4 * n_lists)
    rows = (
        vecs.select("vec_id", "v")
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(sample_n)
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])  # stable array order for the RNG walk
    if not rows:  # empty delta load: no seeds to draw (routine at scale)
        return []
    pts = np.array([[float(x) for x in r["v"]] for r in rows])
    rng = np.random.default_rng(0)
    seeds = [0]  # lowest vec_id in the sample
    d2 = ((pts - pts[0]) ** 2).sum(axis=1)
    for _ in range(1, min(n_lists, len(pts))):
        total = d2.sum()
        if total <= 0:  # all remaining points coincide with a seed
            nxt = int(np.argmin(d2))
        else:
            nxt = int(rng.choice(len(pts), p=d2 / total))
        seeds.append(nxt)
        d2 = np.minimum(d2, ((pts - pts[nxt]) ** 2).sum(axis=1))
    out = [pts[i].tolist() for i in seeds]
    while len(out) < n_lists:  # degenerate tiny inputs: pad by repetition
        out.append(out[len(out) % max(len(seeds), 1)])
    return out


def auto_n_lists(n_vectors: int) -> int:
    """IVF list count from corpus size: ``round(√n)`` (the standard IVF
    sizing rule — balances list-scan cost ~n/n_lists against probe-selection
    cost ~n_lists), clamped to [1, 4096]. 4096 caps the centroid literal the
    shuffle-free assignment projection inlines; beyond that a broadcast-join
    assignment becomes the better plan (VERDICT r04 #8)."""
    return max(1, min(4096, round(math.sqrt(max(n_vectors, 0)))))


def train_ivf_centroids(
    emb: DataFrame, n_lists: int | None = None, iters: int = 2
) -> list[list[float]]:
    """Lloyd's k-means over the embedding column, Spark-first: assignment is
    a literal-centroid projection (shuffle-free), the mean recompute is one
    posexplode→groupBy shuffle per iteration. Deterministic: k-means++ seeds
    from a fixed-seed RNG over a deterministic sample (:func:`_kmeanspp_seeds`),
    fixed iteration count, and every reduction is a mean over a fixed
    assignment.

    ``n_lists=None`` (the default) auto-sizes via :func:`auto_n_lists` from
    one cheap count (parquet footers; no data scan)."""
    if n_lists is None:
        n_lists = auto_n_lists(emb.count())
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    centroids = _kmeanspp_seeds(vecs, n_lists)
    if not centroids:  # empty input: no model to train
        return []
    for _ in range(iters):
        if len(centroids) > _ASSIGN_JOIN_LISTS:
            assigned = assign_via_join(vecs, centroids)
        else:
            assigned = vecs.withColumn("list_id", assign_list_col(F.col("v"), centroids))
        means = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
            .select("list_id", F.transform("pairs", lambda s: s.m).alias("centroid"))
            .collect()
        )
        new = {r["list_id"]: [float(x) for x in r["centroid"]] for r in means}
        # a list emptied by reassignment keeps its previous centroid
        centroids = [new.get(i, centroids[i]) for i in range(n_lists)]
    return centroids


def _assigned_frame(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """``emb`` plus a ``list_id`` nearest-centroid column, picking the
    literal-projection or broadcast-join assignment by list count — the one
    assignment used by build, append, and the semantic-dedup blocking, so
    every path is bit-identical."""
    vcol = F.transform("embedding", lambda x: x.cast("double"))
    if len(centroids) > _ASSIGN_JOIN_LISTS:
        best = assign_via_join(
            emb.select("vec_id", vcol.alias("v")), centroids, keep_vec=False
        )
        return emb.join(best, "vec_id")
    return emb.withColumn("list_id", assign_list_col(vcol, centroids))


def write_centroids(spark: SparkSession, centroids: list, path: str) -> None:
    """The ``<path>/centroids`` sidecar every IVF-family index keeps."""
    ddl = "list_id int, centroid array<double>"
    write_local(spark, list(enumerate(centroids)), ddl, f"{path}/centroids")


def build_ivf_index(
    emb: DataFrame, path: str, n_lists: int | None = None, iters: int = 2
) -> list[list[float]]:
    """Train centroids, then write the vectors PARTITIONED BY their assigned
    list id (``<path>/vectors/list_id=N/``) plus the centroid matrix at
    ``<path>/centroids`` and the per-list trained sizes at ``<path>/stats``
    (the baseline :func:`ivf_index_staleness` audits append growth
    against). Returns the centroids. ``n_lists=None`` auto-sizes to ~√n
    lists (:func:`auto_n_lists`)."""
    centroids = train_ivf_centroids(emb, n_lists=n_lists, iters=iters)
    spark = emb.sparkSession
    write_centroids(spark, centroids, path)
    if not centroids:
        # empty training input: write a schema-stable empty index so
        # ivf_search still answers (with no neighbors) instead of crashing —
        # assign_list_col cannot type an empty centroid literal. The empty
        # vectors table is written UNpartitioned: a zero-row partitioned
        # write emits no files at all, which a later read cannot infer a
        # schema from; the flat empty file keeps list_id as a data column.
        emb.withColumn("list_id", F.lit(None).cast("int")).limit(0).write.mode(
            "overwrite"
        ).parquet(f"{path}/vectors")
        write_local(spark, [], "list_id int, n_trained bigint", f"{path}/stats")
        return []
    assigned = _assigned_frame(emb, centroids)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(f"{path}/vectors")
    spark.read.parquet(f"{path}/vectors").groupBy("list_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trained")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return centroids


def _stored_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def append_ivf_index(emb: DataFrame, path: str) -> None:
    """Assign NEW vectors against the STORED centroid matrix (no retrain)
    and partition-append them under ``<path>/vectors/list_id=N/`` — the
    vector-side twin of :func:`~.dedup.append_minhash_index`: per-ingest
    cost is O(batch) assignment work plus an append into the probed
    directory layout, never a rebuild of the stored corpus. Assignment
    reuses the exact build-time rule (:func:`_assigned_frame`), so an
    appended index answers :func:`ivf_search` identically to an index whose
    vectors were all assigned under the same centroids in one pass. The
    trained quantizer does drift as the ingest distribution moves — audit
    with :func:`ivf_index_staleness` and retrain (rebuild) when per-list
    growth is skewed."""
    from . import tombstones

    centroids = _stored_centroids(emb.sparkSession, path)
    if not centroids:
        raise ValueError(
            f"IVF index at {path!r} has no trained centroids; build_ivf_index "
            "on a non-empty corpus before appending"
        )
    _assigned_frame(emb, centroids).write.mode("append").partitionBy(
        "list_id"
    ).parquet(f"{path}/vectors")
    # append-after-delete is lossless: a re-ingested id must not stay
    # shadowed by its own tombstone (tombstones.py module note)
    tombstones.unmask_ids(emb.sparkSession, path, emb.select("vec_id"), "vec_id")


def compact_ivf_index(spark: SparkSession, path: str, table: str = "vectors") -> None:
    """Rewrite the IVF payload table one file per list directory. Every
    :func:`append_ivf_index` (or ``pq.append_ivfpq_index``) lands its own
    file set inside each probed ``list_id=N`` directory, so a
    long-running ingest accumulates O(appends) files per list and every
    probe pays the listing + per-file open cost. The rewrite clusters by
    list (one shuffle of the stored rows) and publishes with the same
    Hadoop-FS rename-aside swap as ``compact_minhash_index`` — crash
    windows leave the data recoverable under ``<table>.old``, and any
    Spark-readable URI works. Search answers are unchanged (pure
    file-layout rewrite). ``table`` names the partitioned payload —
    ``"vectors"`` for a raw IVF index, ``"codes"`` for the IVF-PQ layout
    (the same convention as ``ivf_index_staleness``). The streaming
    embedding sink runs this on a batch cadence; the ``ingested``
    sidecar (when present) is coalesced with the same discipline."""
    from ..warehouse import hdfs
    from ..warehouse.bucketing import compact_parquet

    swap = lambda src, tmp: hdfs.swap_aside(spark, src, tmp)

    src = f"{path}/{table}"
    tmp = f"{src}.compacting"
    spark.read.parquet(src).repartition("list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(tmp)
    swap(src, tmp)
    if hdfs.exists(spark, f"{path}/ingested"):
        src = f"{path}/ingested"
        tmp = f"{src}.compacting"
        compact_parquet(spark, src, tmp)
        swap(src, tmp)


def delete_from_ivf_index(spark: SparkSession, path: str, vec_ids) -> None:
    """Tombstone vectors out of a persisted IVF / IVF-PQ / IVF-SQ8 index
    (all three share the layout, so this works on any of them): O(ids)
    sidecar append, deleted ids excluded from every search immediately —
    BEFORE the top-k cut, so they never occupy a result slot. Physical
    reclaim is :func:`purge_ivf_index`; re-appending an id un-deletes it
    (``tombstones.py`` module note)."""
    from . import tombstones

    tombstones.delete_ids(spark, path, vec_ids, "vec_id")


def purge_ivf_index(
    spark: SparkSession, path: str, table: str = "vectors"
) -> int:
    """Physically rewrite the payload table without tombstoned vectors and
    clear the sidecar (Lucene's merge / FAISS's rebuild analog). Returns
    rows removed. ``table`` names the partitioned payload — "vectors" for
    raw IVF, "codes" for IVF-PQ / IVF-SQ8."""
    from . import tombstones

    return tombstones.purge_table(spark, path, table, "vec_id", "list_id")


def ivf_index_staleness(spark: SparkSession, path: str, table: str = "vectors") -> DataFrame:
    """(list_id, n_trained, n_now, growth) per list — the retrain audit for
    an appended index. ``growth`` = n_now / n_trained (null for a list the
    training pass left empty). The quantizer was fitted to the build-time
    distribution; appends assign against it unchanged, so a drifting ingest
    shows up here as skewed growth (one list absorbing the new mass ⇒
    its scan cost grows past the ~n/n_lists design point). Reads only
    parquet footers' row counts per directory plus the KB-sized stats
    table. ``table`` names the partitioned payload directory — "vectors"
    for a raw IVF index, "codes" for the IVF-PQ layout (``pq.py``)."""
    now = spark.read.parquet(f"{path}/{table}").groupBy("list_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_now")
    )
    trained = spark.read.parquet(f"{path}/stats")
    return (
        trained.join(now, "list_id", "full")
        .select(
            "list_id",
            F.coalesce("n_trained", F.lit(0).cast("bigint")).alias("n_trained"),
            F.coalesce("n_now", F.lit(0).cast("bigint")).alias("n_now"),
        )
        .withColumn(
            "growth",
            F.when(
                F.col("n_trained") > 0, F.col("n_now") / F.col("n_trained")
            ).cast("double"),
        )
        .orderBy("list_id")
    )


def ivf_search(
    spark: SparkSession, path: str, query_vec: list[float], k: int = 10, n_probes: int = 3
) -> DataFrame:
    """Top-k cosine neighbors from a built IVF index. Probe selection runs on
    the KB-sized centroid table; the vector scan carries a partition filter
    ``list_id IN (probes)`` so Spark lists only the probed directories."""
    cents = spark.read.parquet(f"{path}/centroids").collect()
    qd = [float(x) for x in query_vec]
    by_dist = sorted(
        cents, key=lambda r: sum((a - b) ** 2 for a, b in zip(r["centroid"], qd))
    )
    probes = [r["list_id"] for r in by_dist[:n_probes]]
    from . import tombstones

    qq = [math.floor(x * _SCALE) for x in qd]  # match quantize() fixed-point
    nqq = sum(x * x for x in qq)
    vecs = tombstones.mask(
        spark.read.parquet(f"{path}/vectors").filter(F.col("list_id").isin(probes)),
        spark,
        path,
        "vec_id",
    )
    normed = vecs.select(
        "vec_id", "label", "list_id", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    qcol = F.array(*[F.lit(x) for x in qq])
    cos = dot_q(F.col("q"), qcol).cast("double") / (
        F.sqrt(F.col("nq").cast("double")) * F.sqrt(F.lit(float(nqq)))
    )
    return (
        normed.select("vec_id", "label", "list_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


_ANN_IVF_SQL = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, label, q, {SQL_NORM_Q} AS nq FROM quant
),
expl AS (
  SELECT label, UNNEST(range(len(q))) AS pos, UNNEST(q) AS val FROM quant
),
cent AS (
  SELECT label, pos, CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
  FROM expl GROUP BY label, pos
),
centlist AS (
  SELECT label, list(cval ORDER BY pos) AS cent FROM cent GROUP BY label
),
qv AS (SELECT q AS qq, nq AS nqq FROM normed WHERE vec_id = 0),
probes AS (
  SELECT c.label
  FROM centlist c, qv
  ORDER BY CAST(list_sum([c.cent[i+1] * qv.qq[i+1] FOR i IN range(len(c.cent))]) AS BIGINT) DESC, c.label
  LIMIT 3
)
SELECT n.vec_id, n.label,
       CAST(CAST(list_sum([n.q[i+1] * qv.qq[i+1] FOR i IN range(len(n.q))]) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(n.nq AS DOUBLE)) * sqrt(CAST(qv.nqq AS DOUBLE))) AS cosine
FROM normed n
JOIN probes p ON n.label = p.label
CROSS JOIN qv
WHERE n.vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@query("ann_ivf_topk", oracle=_ANN_IVF_SQL, headline=True, defer=True)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer (per-label centroid, a stand-in for
    trained k-means) → probe the 3 nearest centroids → exact rerank only
    within probed labels.

    Cross-engine determinism (oracle-able since r4): centroids are FIXED-POINT
    INTEGER arrays — ``FLOOR(SUM(q)/COUNT)`` per (label, pos) over the already
    quantized int64 values. The per-position sums stay far below 2^53, so the
    int→double cast, the IEEE division, and the floor are bit-identical in
    Spark and DuckDB; probe ranking then compares EXACT int64 dot products
    (|cdot| ≤ 64·(0.6e7)² ≈ 2.3e15 « 2^63), tie-broken by label.

    At scale the table is partitioned by centroid id: probing = partition
    pruning, and the rerank scans ~n_probes/n_lists of the data."""
    emb = _emb(spark, sf_dir)
    normed = emb.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))

    # integer centroids: FLOOR(mean) per (label, pos) via posexplode + groupBy
    cent = (
        normed.select("label", F.posexplode("q").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)).cast("double"))
            .cast("bigint")
            .alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select("label", F.transform(F.col("pairs"), lambda s: s.cval).alias("centroid"))
    )
    qv = F.broadcast(
        normed.filter(F.col("vec_id") == 0).select(F.col("q").alias("qq"), F.col("nq").alias("nqq"))
    )
    # probe: rank centroids by EXACT integer dot with the quantized query
    probes = (
        cent.crossJoin(qv)
        .select("label", dot_q(F.col("centroid"), F.col("qq")).alias("cdot"))
        .orderBy(F.desc("cdot"), F.asc("label"))
        .limit(3)
        .select("label")
    )
    return (
        normed.join(F.broadcast(probes), "label", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id",
            "label",
            cosine_q(F.col("q"), F.col("qq"), F.col("nq"), F.col("nqq")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --- IVF recall audit (r13) --------------------------------------------------
#
# The ANN twin of dedup.minhash_estimator_error ("measure, don't
# guess"): per query vector, how much of the exact brute-force top-k
# does the probe-pruned IVF path actually return? recall@k per query as
# an exact rational n_hits/k — mis-sized probe counts or a bad coarse
# quantizer become a number. Both legs reuse the registered shapes
# (ann_cosine_topk / ann_ivf_topk) generalized to a BROADCAST query
# batch: per-query ranking runs as qid-partitioned windows
# (WindowGroupLimit pre-trim), so the audit distributes across queries —
# no single-partition stage. Determinism: identical to the ANN oracles
# (exact int64 dots, bit-identical cosines, vec_id tie-breaks).


def ivf_recall_audit(
    embs: DataFrame, k: int = 10, n_probes: int = 3, query_mod: int = 50
) -> DataFrame:
    """(query_id, n_hits, recall) per query vector (vec_id % query_mod == 0):
    overlap between the exact cosine top-k and the n_probes IVF top-k."""
    normed = embs.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    queries = F.broadcast(
        normed.filter(F.col("vec_id") % query_mod == 0).select(
            F.col("vec_id").alias("qid"), F.col("q").alias("qq"), F.col("nq").alias("nqq")
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    scored = (
        normed.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            cosine_q(F.col("q"), F.col("qq"), F.col("nq"), F.col("nqq")).alias("cosine"),
        )
    )
    brute = (
        scored.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") <= k).select("qid", "vec_id")
    )
    cent = (
        normed.select("label", F.posexplode("q").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)).cast("double"))
            .cast("bigint")
            .alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select("label", F.transform(F.col("pairs"), lambda s: s.cval).alias("centroid"))
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("cdot"), F.asc("label"))
    probes = (
        cent.crossJoin(queries)
        .select("qid", "label", dot_q(F.col("centroid"), F.col("qq")).alias("cdot"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probes)
        .select("qid", "label")
    )
    ivf = (
        scored.join(probes, ["qid", "label"], "left_semi")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    hits = brute.join(ivf, ["qid", "vec_id"], "left_semi").groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k)), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


_IVF_RECALL_SQL = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, label, q, {SQL_NORM_Q} AS nq FROM quant
),
queries AS (
  SELECT vec_id AS qid, q AS qq, nq AS nqq FROM normed WHERE vec_id % 50 = 0
),
scored AS (
  SELECT u.qid, n.vec_id, n.label,
         CAST(CAST(list_sum([n.q[i+1] * u.qq[i+1] FOR i IN range(len(n.q))]) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(n.nq AS DOUBLE)) * sqrt(CAST(u.nqq AS DOUBLE))) AS cosine
  FROM normed n, queries u
  WHERE n.vec_id <> u.qid
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= 10
),
expl AS (
  SELECT label, UNNEST(range(len(q))) AS pos, UNNEST(q) AS val FROM quant
),
cent AS (
  SELECT label, pos, CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
  FROM expl GROUP BY label, pos
),
centlist AS (
  SELECT label, list(cval ORDER BY pos) AS cent FROM cent GROUP BY label
),
probes AS (
  SELECT qid, label FROM (
    SELECT u.qid, c.label,
           row_number() OVER (
             PARTITION BY u.qid
             ORDER BY CAST(list_sum([c.cent[i+1] * u.qq[i+1] FOR i IN range(len(c.cent))]) AS BIGINT) DESC,
                      c.label
           ) AS rn
    FROM centlist c, queries u
  ) WHERE rn <= 3
),
ivf AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid ORDER BY s.cosine DESC, s.vec_id) AS rn
    FROM scored s
    JOIN probes p ON p.qid = s.qid AND p.label = s.label
  ) WHERE rn <= 10
),
hits AS (
  SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM brute b
  WHERE EXISTS (SELECT 1 FROM ivf i WHERE i.qid = b.qid AND i.vec_id = b.vec_id)
  GROUP BY b.qid
)
SELECT u.qid AS query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0, 6) AS recall
FROM queries u
LEFT JOIN hits h ON h.qid = u.qid
ORDER BY query_id
"""


@query("ann_ivf_recall", oracle=_IVF_RECALL_SQL, defer=True)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the 3-probe IVF path against exact brute
    force — the ANN-quality audit twin of dedup_minhash_error."""
    return ivf_recall_audit(_emb(spark, sf_dir))


# --- Semantic (SemDeDup-style) near-dup: learned-cluster blocking ----------
#
# dedup_embedding_cosine blocks on the GIVEN label column; real corpora
# rarely ship one. The IVF-blocked variant derives the blocking key from the
# vectors themselves: assign every vector to its nearest coarse centroid
# (the IVF list), then run the exact-cosine pairwise check only within each
# list — the SemDeDup shape (cluster → within-cluster prune). At 100 TB the
# assignment is a shuffle-free projection against the broadcast centroid
# matrix (n_lists ~ √n via auto_n_lists, clamped so the matrix always
# broadcasts), the table is written partitionBy(list_id), and
# each within-list join is quadratic only in its list size — the audit twin
# of dedup.lsh_bucket_overflow is a per-list count. Here the coarse
# quantizer is the same deterministic per-label FLOOR(SUM/COUNT) integer
# centroid ann_ivf_topk uses, so DuckDB replays centroid build, nearest-
# centroid assignment (exact int64 squared-L2, ties to the lowest cluster
# id), and verification bit-for-bit.

# the oracle interpolates the SAME constants the Spark defaults use —
# hand-synced literal pairs silently desynchronize engines (review r6)
_SEM_PROBES = 2
# Deterministic per-cluster candidate cap (r11, VERDICT r10 defect #3): the
# within-cluster pair join is O(n_c²); one boilerplate-heavy hot cluster at
# 100 TB is a quadratic straggler. Same discipline as the LSH band-bucket
# cap (dedup._cap_buckets): keep the cap smallest vec_ids per probed
# cluster — deterministic, so DuckDB replays it via QUALIFY — and surface
# everything dropped through semantic_cluster_overflow (no-silent-caps
# rule). A production run that sees overflow re-trains with more lists (or
# shards the hot cluster) instead of raising the cap. (_SEM_CLUSTER_CAP is
# defined next to _SEM_THRESHOLD so the label-blocked variant's oracle,
# which precedes this block, can interpolate it.)

_SQL_SEM_CAP = f"""capped AS (
  SELECT vec_id, q, nq, cluster FROM assigned
  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= {_SEM_CLUSTER_CAP}
)"""

_SEMANTIC_DEDUP_SQL = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, label, q, {SQL_NORM_Q} AS nq FROM quant
),
expl AS (
  SELECT label, UNNEST(range(len(q))) AS pos, UNNEST(q) AS val FROM quant
),
cent AS (
  SELECT label, pos, CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
  FROM expl GROUP BY label, pos
),
centlist AS (
  SELECT label AS cluster, list(cval ORDER BY pos) AS cent FROM cent GROUP BY label
),
assigned AS (
  SELECT vec_id, q, nq, cluster FROM (
    SELECT n.vec_id, n.q, n.nq, c.cluster,
           CAST(list_sum([(n.q[i+1] - c.cent[i+1]) * (n.q[i+1] - c.cent[i+1]) FOR i IN range(len(n.q))]) AS BIGINT) AS d
    FROM normed n, centlist c
  )
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) <= {_SEM_PROBES}
),
{_SQL_SEM_CAP}
SELECT DISTINCT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       CAST(CAST(list_sum([a.q[i+1] * b.q[i+1] FOR i IN range(len(a.q))]) AS BIGINT) AS DOUBLE)
         / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
FROM capped a
JOIN capped b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE CAST(CAST(list_sum([a.q[i+1] * b.q[i+1] FOR i IN range(len(a.q))]) AS BIGINT) AS DOUBLE)
        / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) >= {_SEM_THRESHOLD}
ORDER BY vec_id_1, vec_id_2
"""


def _int_centroids(normed: DataFrame) -> DataFrame:
    """(cluster, cent): deterministic fixed-point integer centroids — FLOOR
    of the per-position mean of the already-quantized int64 values, keyed by
    label (the coarse-quantizer stand-in shared with :func:`ann_ivf_topk`).
    One posexplode→groupBy shuffle of (label, pos, val) triples; the result
    is n_lists×dim, KB-sized by definition."""
    return (
        normed.select("label", F.posexplode("q").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)).cast("double"))
            .cast("bigint")
            .alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select(
            F.col("label").alias("cluster"),
            F.transform(F.col("pairs"), lambda s: s.cval).alias("cent"),
        )
    )


def _nearest_clusters(cents: Column, n_probes: int) -> Column:
    """Array of the ``n_probes`` nearest (d, cluster) structs for the row's
    quantized vector ``q`` against the ``cents`` array-of-(cluster, cent)
    column — exact int64 squared-L2, ties to the lowest cluster id (struct
    sort order), computed as a PURE PROJECTION: the one assignment
    expression every semantic-dedup path shares, so tie-breaking and probe
    slicing can never desynchronize between the oracle-checked, k-means,
    and audit variants."""
    d_structs = F.transform(
        cents,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("q"), c["cent"], lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("d"),
            c["cluster"].alias("cluster"),
        ),
    )
    return F.slice(F.array_sort(d_structs), 1, n_probes)


def _cap_cluster_members(
    assigned: DataFrame, cap: int | None, key: str = "cluster"
) -> DataFrame:
    """Keep the ``cap`` smallest vec_ids per probed cluster — the semantic
    analog of ``dedup._cap_buckets`` (r11): bounds every within-cluster
    join at O(cap²) per cluster so one hot cluster can never become a
    quadratic straggler. Deterministic (smallest-id), so the DuckDB
    oracles replay it via QUALIFY; the ``row_number() <= cap`` filter
    triggers Catalyst's WindowGroupLimit pushdown (Partial before the
    Exchange, Final after — pinned in tests/test_plans.py), so map tasks
    pre-trim hot clusters before the shuffle. Dropped membership is
    surfaced by :func:`semantic_cluster_overflow` — no silent caps."""
    if cap is None:
        return assigned
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("vec_id")
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def _verified_pairs(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-cluster self-join + exact-cosine verify over an assigned
    (vec_id, q, nq, cluster) frame — the shared back half of the semantic
    dedup variants. DISTINCT collapses pairs co-blocked by two shared
    probed clusters."""
    a = assigned.alias("a")
    b = assigned.alias("b")
    cos = cosine_q(F.col("a.q"), F.col("b.q"), F.col("a.nq"), F.col("b.nq"))
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_1"),
            F.col("b.vec_id").alias("vec_id_2"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
        .orderBy("vec_id_1", "vec_id_2")
    )


def _label_cent_arr(normed: DataFrame) -> DataFrame:
    """The per-label integer centroid matrix as ONE array-of-structs row,
    ready to broadcast into :func:`_nearest_clusters`."""
    return _int_centroids(normed).agg(
        F.array_sort(F.collect_list(F.struct("cluster", "cent"))).alias("cents")
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = _SEM_THRESHOLD,
    n_probes: int = _SEM_PROBES,
    cap: int | None = _SEM_CLUSTER_CAP,
) -> DataFrame:
    """IVF-cluster-blocked embedding near-dup pairs over an arbitrary
    (vec_id, label, embedding) frame — see the module-level SemDeDup note.

    Plan: quantize → broadcast the WHOLE centroid matrix as ONE
    array-of-structs row → per-row HOF sort-slice of the ``n_probes``
    nearest clusters → explode to (vec, cluster) keys. Assignment is
    SHUFFLE-FREE — a pure projection against the broadcast matrix (the
    matrix is ≤4096×dim by the auto_n_lists clamp, the same bound the IVF
    literal-projection path relies on); the only data shuffles are the
    centroid build (two partial-agg groupBys over narrow triples) and the
    within-cluster pair join. Multi-probe assignment is the recall knob the
    single-cluster SemDeDup membership lacks: a near-dup pair split by a
    cluster boundary is still co-blocked if ANY of the n_probes probed
    clusters is shared (measured at sf0.001 vs brute force at the same
    threshold: 0.25 recall at 1 probe → 0.64 at 2 → 0.90 at 3; candidate
    cost grows only ~n_probes² per pair space). The within-cluster join is
    bounded by the deterministic ``cap``-smallest-id member window
    (:func:`_cap_cluster_members`); dropped membership surfaces in
    :func:`semantic_cluster_overflow`."""
    normed = emb.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    assigned = (
        normed.crossJoin(F.broadcast(_label_cent_arr(normed)))
        .select(
            "vec_id",
            "q",
            "nq",
            F.explode(_nearest_clusters(F.col("cents"), n_probes)).alias("pc"),
        )
        .select("vec_id", "q", "nq", F.col("pc.cluster").alias("cluster"))
    )
    return _verified_pairs(_cap_cluster_members(assigned, cap), threshold)


def semantic_dedup_pairs_kmeans(
    emb: DataFrame,
    threshold: float = _SEM_THRESHOLD,
    n_probes: int = _SEM_PROBES,
    n_lists: int | None = None,
    iters: int = 2,
    cap: int | None = _SEM_CLUSTER_CAP,
) -> DataFrame:
    """Fully label-free semantic near-dup: the coarse quantizer is TRAINED
    k-means (deterministic k-means++ seeds + Lloyd iterations, the same
    model the IVF index uses, ``n_lists ~ √n`` by default) instead of the
    per-label means the oracle-checked :func:`semantic_dedup_pairs` uses —
    the production path for a corpus with no label column at all. Blocking,
    multi-probe assignment, and the exact-cosine verify are the SAME code
    (:func:`_nearest_clusters` / :func:`_verified_pairs`); k-means itself
    is DataFrame-native but not SQL-replayable, so this variant is
    pytest-verified (precision is still exactly 1.0 by construction)
    rather than DuckDB-oracled."""
    centroids = train_ivf_centroids(emb, n_lists=n_lists, iters=iters)
    if not centroids:
        return local_frame(emb.sparkSession, [], "vec_id_1 bigint, vec_id_2 bigint, cosine double")
    # quantize the trained float centroids onto the same fixed-point grid as
    # the vectors so distances are exact int64
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(i).alias("cluster"),
                F.array(*[F.lit(int(math.floor(v * _SCALE))) for v in c]).alias("cent"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    normed = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    assigned = normed.select(
        "vec_id",
        "q",
        "nq",
        F.explode(_nearest_clusters(cent_lit, n_probes)).alias("pc"),
    ).select("vec_id", "q", "nq", F.col("pc.cluster").alias("cluster"))
    return _verified_pairs(_cap_cluster_members(assigned, cap), threshold)


def semantic_cluster_sizes(emb: DataFrame, n_probes: int = _SEM_PROBES) -> DataFrame:
    """(cluster, n_vecs) membership counts for the semantic-dedup blocking —
    the audit surface for its within-cluster joins (the analog of
    ``dedup.lsh_bucket_overflow``): since r11 the pair join itself is
    bounded at O(cap²) per cluster by :func:`_cap_cluster_members`, so
    these RAW (uncapped) counts tell an operator how much membership the
    cap is dropping — inspect them (and re-train with more lists, or shard
    an oversized cluster) to recover recall. One partial-aggregating
    groupBy over the narrow probe keys."""
    normed = emb.select("vec_id", "label", quantize(F.col("embedding")).alias("q"))
    return (
        normed.crossJoin(F.broadcast(_label_cent_arr(normed)))
        .select(
            "vec_id",
            F.explode(_nearest_clusters(F.col("cents"), n_probes)).alias("pc"),
        )
        .groupBy(F.col("pc.cluster").alias("cluster"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("cluster")
    )


def block_overflow(
    blocked: DataFrame, key: str, cap: int = _SEM_CLUSTER_CAP
) -> DataFrame:
    """(key, n_vecs, n_dropped) for ANY blocking key whose membership
    exceeds the candidate cap — the generic no-silent-caps audit behind
    :func:`semantic_cluster_overflow`; pass the label-blocked frame with
    ``key="label"`` to audit :func:`dedup_embedding_cosine`'s blocks."""
    return (
        blocked.groupBy(key)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .filter(F.col("n_vecs") > cap)
        .withColumn("n_dropped", (F.col("n_vecs") - F.lit(cap)).cast("bigint"))
    )


def semantic_cluster_overflow(
    emb: DataFrame, n_probes: int = _SEM_PROBES, cap: int = _SEM_CLUSTER_CAP
) -> DataFrame:
    """(cluster, n_vecs, n_dropped) for clusters whose probed membership
    exceeds the deterministic candidate cap — the no-silent-caps audit for
    :func:`_cap_cluster_members` (the analog of ``dedup.lsh_bucket_overflow``):
    vectors beyond the cap's smallest-id window are excluded from the pair
    join, so a run at scale should count/log these and re-train with more
    lists (or shard the hot cluster) before trusting recall."""
    sizes = semantic_cluster_sizes(emb, n_probes)
    return (
        sizes.filter(F.col("n_vecs") > cap)
        .withColumn("n_dropped", (F.col("n_vecs") - F.lit(cap)).cast("bigint"))
    )


@query("dedup_embedding_ivf", oracle=_SEMANTIC_DEDUP_SQL, defer=True)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs with a LEARNED blocking key (SemDeDup shape):
    nearest-coarse-centroid assignment replaces the given-label blocking of
    ``dedup_embedding_cosine`` — the variant a label-free corpus needs."""
    return semantic_dedup_pairs(_emb(spark, sf_dir))


# --- Contrastive triplet mining ---------------------------------------------
#
# Embedding models train on (anchor, positive, hard-negative) triplets; the
# classic recipe (DPR-style) takes positives from verified near-duplicates
# and HARD negatives from the nearest neighbors that are NOT duplicates —
# random negatives are too easy to teach a margin. This composes the
# semantic-dedup machinery directly: the SAME 2-probe cluster blocking
# produces one within-cluster candidate join, and a single conditional
# aggregation splits each anchor's candidates at the near-dup threshold —
# argmax cosine ABOVE it is the positive, argmax BELOW it is the hard
# negative (the closest thing that is still a non-duplicate). Anchors
# lacking either side drop. One extra narrow shuffle (the per-anchor
# rollup) beyond the dedup plan, no windows; everything stays on the exact
# int64 fixed-point cosine, so DuckDB replays the mining bit-for-bit.

_TRIPLET_CTES = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, label, q, {SQL_NORM_Q} AS nq FROM quant
),
expl AS (
  SELECT label, UNNEST(range(len(q))) AS pos, UNNEST(q) AS val FROM quant
),
cent AS (
  SELECT label, pos, CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
  FROM expl GROUP BY label, pos
),
centlist AS (
  SELECT label AS cluster, list(cval ORDER BY pos) AS cent FROM cent GROUP BY label
),
assigned AS (
  SELECT vec_id, q, nq, cluster FROM (
    SELECT n.vec_id, n.q, n.nq, c.cluster,
           CAST(list_sum([(n.q[i+1] - c.cent[i+1]) * (n.q[i+1] - c.cent[i+1]) FOR i IN range(len(n.q))]) AS BIGINT) AS d
    FROM normed n, centlist c
  )
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) <= {_SEM_PROBES}
),
{_SQL_SEM_CAP},
cands AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         CAST(CAST(list_sum([a.q[i+1] * b.q[i+1] FOR i IN range(len(a.q))]) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
  FROM capped a
  JOIN capped b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
),
pos AS (
  SELECT anchor_id, cand_id AS pos_id, cosine AS pos_cosine
  FROM cands WHERE cosine >= {_SEM_THRESHOLD}
  QUALIFY row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, cand_id) = 1
),
neg AS (
  SELECT anchor_id, cand_id AS neg_id, cosine AS neg_cosine
  FROM cands WHERE cosine < {_SEM_THRESHOLD}
  QUALIFY row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, cand_id) = 1
)"""

_TRIPLET_SQL = (
    _TRIPLET_CTES
    + """
SELECT p.anchor_id, p.pos_id, p.pos_cosine, n.neg_id, n.neg_cosine
FROM pos p JOIN neg n USING (anchor_id)
ORDER BY p.anchor_id
"""
)


def contrastive_triplets(
    emb: DataFrame,
    threshold: float = _SEM_THRESHOLD,
    n_probes: int = _SEM_PROBES,
    cap: int | None = _SEM_CLUSTER_CAP,
) -> DataFrame:
    """(anchor_id, pos_id, pos_cosine, neg_id, neg_cosine) training triplets
    — see the module note. The positive/negative argmaxes come out of ONE
    conditional aggregation over the within-cluster candidates (min over a
    (-cosine, cand_id) struct, so ties break to the lowest candidate id in
    both engines); beyond the r11 candidate cap's WindowGroupLimit there
    are no windows and no second pass over the pair space. The candidate
    join shares :func:`_cap_cluster_members` with the dedup path, so one
    hot cluster can never make mining quadratic."""
    normed = emb.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    assigned = (
        normed.crossJoin(F.broadcast(_label_cent_arr(normed)))
        .select(
            "vec_id",
            "q",
            "nq",
            F.explode(_nearest_clusters(F.col("cents"), n_probes)).alias("pc"),
        )
        .select("vec_id", "q", "nq", F.col("pc.cluster").alias("cluster"))
    )
    capped = _cap_cluster_members(assigned, cap)
    a, b = capped.alias("a"), capped.alias("b")
    cos = cosine_q(F.col("a.q"), F.col("b.q"), F.col("a.nq"), F.col("b.nq"))
    cands = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("anchor_id"),
        F.col("b.vec_id").alias("cand_id"),
        cos.alias("cosine"),
    )
    # multi-probe co-blocking duplicates a candidate row with IDENTICAL
    # values — harmless under min(), so no DISTINCT shuffle is spent on it
    key = F.struct((-F.col("cosine")).alias("nc"), "cand_id", "cosine")
    rolled = cands.groupBy("anchor_id").agg(
        F.min(F.when(F.col("cosine") >= threshold, key)).alias("p"),
        F.min(F.when(F.col("cosine") < threshold, key)).alias("n"),
    )
    return (
        rolled.filter(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            "anchor_id",
            F.col("p.cand_id").alias("pos_id"),
            F.col("p.cosine").alias("pos_cosine"),
            F.col("n.cand_id").alias("neg_id"),
            F.col("n.cosine").alias("neg_cosine"),
        )
        .orderBy("anchor_id")
    )


@query("train_contrastive_triplets", oracle=_TRIPLET_SQL, defer=True)
def train_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine (anchor, positive, hard-negative) triplets from the embeddings
    table: positives are verified near-dups (cosine ≥ 0.35), hard negatives
    the nearest sub-threshold neighbor within the probed clusters."""
    return contrastive_triplets(_emb(spark, sf_dir))


# --- Cross-encoder-style triplet re-scoring ---------------------------------
#
# Bi-encoder mining (above) nominates hard negatives by embedding cosine
# alone; production pipelines then RE-SCORE each (anchor, candidate) pair
# with a second-stage model that sees both documents jointly (a
# cross-encoder) and DROP false negatives — candidates the stronger scorer
# says are actually positives (the ANCE/RocketQA denoising step). The
# engine ships the full Spark shape of that stage with a deterministic,
# SQL-replayable stand-in for the model: the pair score blends the mined
# cosine with the lexical Jaccard overlap of the two documents' capped
# token signatures (0.5·cos + 0.5·jaccard). A real model drops into the
# same pair frame as a Pandas-UDF mapInPandas over (anchor_text,
# cand_text) batches — the join topology, not the scorer, is the scale
# design: the pair frame is O(|triplets|) (one row per mined anchor), doc
# signatures are semi-joined down to exactly the ids the triplets touch
# before the three narrow id-keyed joins, so the corpus is scanned once
# and nothing quadratic ever forms.

_SIG_CAP = 64  # tokens per doc signature — bounds join width at scale

_CROSS_SIG_SQL = (
    f"list_sort(list_distinct(regexp_split_to_array({SQL_NORM}, '\\s+')))[1:{_SIG_CAP}]"
)


def _sql_cross(sig_a: str, sig_b: str, cosine: str) -> str:
    inter = f"len(list_intersect({sig_a}, {sig_b}))"
    return (
        f"CAST(0.5 AS DOUBLE) * {cosine} + CAST(0.5 AS DOUBLE) * "
        f"(CAST({inter} AS DOUBLE) / "
        f"CAST(len({sig_a}) + len({sig_b}) - {inter} AS DOUBLE))"
    )


_RESCORE_SQL = (
    _TRIPLET_CTES
    + f""",
trip AS (
  SELECT p.anchor_id, p.pos_id, p.pos_cosine, n.neg_id, n.neg_cosine
  FROM pos p JOIN neg n USING (anchor_id)
),
sig AS (
  SELECT doc_id, {_CROSS_SIG_SQL} AS sig FROM documents
),
scored AS (
  SELECT t.anchor_id, t.pos_id, t.neg_id,
         {_sql_cross('sa.sig', 'sp.sig', 't.pos_cosine')} AS pos_cross,
         {_sql_cross('sa.sig', 'sn.sig', 't.neg_cosine')} AS neg_cross
  FROM trip t
  JOIN sig sa ON t.anchor_id = sa.doc_id
  JOIN sig sp ON t.pos_id = sp.doc_id
  JOIN sig sn ON t.neg_id = sn.doc_id
)
SELECT anchor_id, pos_id, neg_id,
       ROUND(pos_cross, 6) AS pos_cross,
       ROUND(neg_cross, 6) AS neg_cross,
       ROUND(pos_cross - neg_cross, 6) AS margin
FROM scored
WHERE neg_cross < pos_cross
ORDER BY anchor_id
"""
)


def _doc_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig): the capped sorted distinct-token signature each pair
    score compares — deterministic, ≤ {_SIG_CAP} strings per doc."""
    sig = F.slice(
        F.array_sort(F.array_distinct(F.split(normalize_content(F.col("text")), r"\s+"))),
        1,
        _SIG_CAP,
    )
    return docs.select("doc_id", sig.alias("sig"))


def _cross_score(sig_a: Column, sig_b: Column, cosine: Column) -> Column:
    inter = F.size(F.array_intersect(sig_a, sig_b))
    union = F.size(sig_a) + F.size(sig_b) - inter
    return F.lit(0.5) * cosine + F.lit(0.5) * (
        inter.cast("double") / union.cast("double")
    )


def rescore_triplets(trip: DataFrame, docs: DataFrame) -> DataFrame:
    """(anchor_id, pos_id, neg_id, pos_cross, neg_cross, margin): second-
    stage pair scores over mined triplets, false negatives dropped — rows
    where the joint scorer rates the "negative" at or above the positive
    (``neg_cross >= pos_cross``) are denoising casualties, not training
    signal. See the module note for the scale topology and the
    cross-encoder plug point."""
    ids = (
        trip.select(F.col("anchor_id").alias("doc_id"))
        .unionAll(trip.select(F.col("pos_id").alias("doc_id")))
        .unionAll(trip.select(F.col("neg_id").alias("doc_id")))
        .distinct()
    )
    sig = F.broadcast(
        _doc_signatures(docs).join(F.broadcast(ids), "doc_id", "left_semi")
    )
    joined = (
        trip.join(sig.select(F.col("doc_id").alias("anchor_id"), F.col("sig").alias("sig_a")), "anchor_id")
        .join(sig.select(F.col("doc_id").alias("pos_id"), F.col("sig").alias("sig_p")), "pos_id")
        .join(sig.select(F.col("doc_id").alias("neg_id"), F.col("sig").alias("sig_n")), "neg_id")
    )
    pos_cross = _cross_score(F.col("sig_a"), F.col("sig_p"), F.col("pos_cosine"))
    neg_cross = _cross_score(F.col("sig_a"), F.col("sig_n"), F.col("neg_cosine"))
    return (
        joined.select(
            "anchor_id",
            "pos_id",
            "neg_id",
            pos_cross.alias("_pc"),
            neg_cross.alias("_nc"),
        )
        .filter(F.col("_nc") < F.col("_pc"))
        .select(
            "anchor_id",
            "pos_id",
            "neg_id",
            F.round(F.col("_pc"), 6).alias("pos_cross"),
            F.round(F.col("_nc"), 6).alias("neg_cross"),
            F.round(F.col("_pc") - F.col("_nc"), 6).alias("margin"),
        )
        .orderBy("anchor_id")
    )


@query("train_triplets_rescored", oracle=_RESCORE_SQL, defer=True)
def train_triplets_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine triplets from the embeddings table, then re-score each pair
    with the joint (cross-encoder-style) scorer over the paired documents
    and drop false negatives. Registered deferred per the 50-slot window
    rule; oracle-verified in tests/test_oracle_parity.py."""
    trip = contrastive_triplets(_emb(spark, sf_dir))
    docs = tpch.load(spark, sf_dir, "documents")
    return rescore_triplets(trip, docs)


# --- Batch kNN join ---------------------------------------------------------
#
# Retrieval evaluation, embedding-based decontamination, and RAG indexing
# all need the JOIN form of ANN: for EVERY vector in a query set, the top-k
# nearest corpus vectors — not one ad-hoc probe. The scale shape: the query
# set is the small side (an eval suite, a probe batch), so it BROADCASTS;
# scoring is a projection over corpus × |Q| expanded rows; and the per-query
# cut `row_number() <= k` keeps Catalyst's WindowGroupLimit pushdown, so
# every map task pre-trims each query's candidates to k before the exchange
# — the reducer sees O(k × map_tasks) rows per query, never the corpus.
# When |Q| itself is corpus-sized, the broadcast-expansion dies; the
# IVF-blocked variant below replaces it with a cluster-key equi-join (the
# same coarse quantizer the semantic-dedup family shares), trading exact
# recall for a join whose width is corpus × n_probes.

_KNN_K = 5
_KNN_QUERY_MOD = 50  # vec_id % 50 == 0 -> the query set (~2% of vectors)

_KNN_JOIN_SQL = f"""
WITH quant AS (
  SELECT vec_id, {SQL_QUANT} AS q FROM embeddings
),
normed AS (
  SELECT vec_id, q, {SQL_NORM_Q} AS nq FROM quant
),
qs AS (
  SELECT vec_id AS q_id, q AS qq, nq AS nqq FROM normed
  WHERE vec_id % {_KNN_QUERY_MOD} = 0
),
corpus AS (
  SELECT vec_id, q, nq FROM normed WHERE vec_id % {_KNN_QUERY_MOD} <> 0
),
scored AS (
  SELECT qs.q_id, c.vec_id,
         CAST(CAST(list_sum([c.q[i+1] * qs.qq[i+1] FOR i IN range(len(c.q))]) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(c.nq AS DOUBLE)) * sqrt(CAST(qs.nqq AS DOUBLE))) AS cosine
  FROM corpus c CROSS JOIN qs
),
ranked AS (
  SELECT q_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
  FROM scored
)
SELECT q_id, vec_id AS neighbor_id, cosine, CAST(rk AS BIGINT) AS nn_rank
FROM ranked
WHERE rk <= {_KNN_K}
ORDER BY q_id, nn_rank
"""


def _normed_split(emb: DataFrame, query_mod: int) -> tuple[DataFrame, DataFrame]:
    normed = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    queries = normed.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qq"), F.col("nq").alias("nqq")
    )
    corpus = normed.filter(F.col("vec_id") % query_mod != 0)
    return corpus, queries


def knn_join(corpus: DataFrame, queries: DataFrame, k: int = _KNN_K) -> DataFrame:
    """(q_id, neighbor_id, cosine, nn_rank): exact top-``k`` corpus
    neighbors for every query vector. ``corpus`` carries (vec_id, q, nq),
    ``queries`` (q_id, qq, nqq) — both already quantized. The query side is
    broadcast; the rank cut keeps WindowGroupLimit (plan pinned)."""
    from pyspark.sql import Window

    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_q(F.col("q"), F.col("qq"), F.col("nq"), F.col("nqq")).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("nn_rank") <= k)
        .orderBy("q_id", "nn_rank")
    )


@query("ann_knn_join", oracle=_KNN_JOIN_SQL, defer=True)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch kNN join: top-5 cosine neighbors for every 50th vector
    against the rest of the corpus — the retrieval-eval workhorse."""
    corpus, queries = _normed_split(_emb(spark, sf_dir), _KNN_QUERY_MOD)
    return knn_join(corpus, queries)


def knn_join_ivf(
    emb: DataFrame,
    k: int = _KNN_K,
    query_mod: int = _KNN_QUERY_MOD,
    n_probes: int = _SEM_PROBES,
) -> DataFrame:
    """IVF-blocked kNN join for when the query set is too large to
    broadcast-expand: corpus vectors key by their single nearest coarse
    centroid, queries probe their ``n_probes`` nearest, and scoring runs
    inside the cluster equi-join — candidate width corpus × n_probes
    instead of corpus × |Q|. Same quantizer/assignment expression as the
    semantic-dedup family, so probe tie-breaking matches everywhere.
    Approximate: recall vs :func:`knn_join` is the probe-count knob
    (measured in tests)."""
    from pyspark.sql import Window

    normed = emb.select(
        "vec_id", "label", quantize(F.col("embedding")).alias("q")
    ).withColumn("nq", dot_q(F.col("q"), F.col("q")))
    cents = F.broadcast(_label_cent_arr(normed))
    corpus = (
        normed.filter(F.col("vec_id") % query_mod != 0)
        .crossJoin(cents)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "q",
            "nq",
            _nearest_clusters(F.col("cents"), 1)[0]["cluster"].alias("cluster"),
        )
    )
    queries = (
        normed.filter(F.col("vec_id") % query_mod == 0)
        .crossJoin(cents)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("q").alias("qq"),
            F.col("nq").alias("nqq"),
            F.explode(
                F.transform(
                    _nearest_clusters(F.col("cents"), n_probes), lambda s: s["cluster"]
                )
            ).alias("cluster"),
        )
    )
    scored = corpus.join(queries, "cluster").select(
        "q_id",
        "neighbor_id",
        cosine_q(F.col("q"), F.col("qq"), F.col("nq"), F.col("nqq")).alias("cosine"),
    )
    # a (q, neighbor) pair co-blocked by two probed clusters scores twice —
    # identical values, so the rank window needs the duplicate dropped first
    scored = scored.distinct()
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("nn_rank") <= k)
        .orderBy("q_id", "nn_rank")
    )


# --- simplified silhouette (r13) -----------------------------------------------
#
# Cluster-quality eval the clustering family lacked: per point, the
# simplified silhouette (Hruschka et al. 2004) s = (b − a)/max(a, b)
# with a = distance to the OWN cluster centroid and b = the nearest
# OTHER centroid — linear in n where the classic silhouette is the
# quadratic all-pairs version. Here over the label partition under the
# same integer per-label centroids the IVF coarse quantizer uses:
# squared-L2 distances are exact int64 sums (≤ 64·(2e7)² ≈ 2.6e16),
# every per-point ratio becomes a 1e6 fixed-point bigint (floor of a
# double computed from identical integers), so per-label sums are exact
# and the mean is ONE division — no ordered fold needed. On the
# unstructured synthetic corpus the scores sit near 0 (labels are not
# geometric clusters — consistent with ann_ivf_recall's finding);
# planted clusters score near 1 (pytest).


def silhouette_by_label(embs: DataFrame) -> DataFrame:
    """(label, n, mean_silhouette): simplified silhouette of the label
    partition under integer per-label centroids."""
    normed = embs.select("vec_id", "label", quantize(F.col("embedding")).alias("q"))
    cent = (
        normed.select("label", F.posexplode("q").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)).cast("double"))
            .cast("bigint")
            .alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select(
            F.col("label").alias("clabel"),
            F.transform(F.col("pairs"), lambda s: s.cval).alias("centroid"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("q"), F.col("centroid"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dists = normed.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    a = dists.filter(F.col("label") == F.col("clabel")).select("vec_id", "label", F.col("d2").alias("a"))
    b = (
        dists.filter(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.min("d2").alias("b"))
    )
    s_fp = F.floor(
        F.lit(1000000.0)
        * (F.col("b").cast("double") - F.col("a").cast("double"))
        / F.nullif(F.greatest("a", "b").cast("double"), F.lit(0.0))
    ).cast("bigint")
    return (
        a.join(b, "vec_id")
        .select("label", F.coalesce(s_fp, F.lit(0)).alias("s_fp"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum("s_fp").cast("double")
                / (F.lit(1000000.0) * F.count(F.lit(1)).cast("double")),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


_SILHOUETTE_SQL = f"""
WITH quant AS (
  SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings
),
expl AS (
  SELECT label, UNNEST(range(len(q))) AS pos, UNNEST(q) AS val FROM quant
),
cent AS (
  SELECT label, pos, CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
  FROM expl GROUP BY label, pos
),
centlist AS (
  SELECT label AS clabel, list(cval ORDER BY pos) AS cent FROM cent GROUP BY label
),
dists AS (
  SELECT n.vec_id, n.label, c.clabel,
         CAST(list_sum([(n.q[i+1] - c.cent[i+1]) * (n.q[i+1] - c.cent[i+1])
                        FOR i IN range(len(n.q))]) AS BIGINT) AS d2
  FROM quant n, centlist c
),
own AS (SELECT vec_id, label, d2 AS a FROM dists WHERE label = clabel),
other AS (
  SELECT vec_id, CAST(MIN(d2) AS BIGINT) AS b FROM dists WHERE label <> clabel GROUP BY vec_id
),
pts AS (
  SELECT o.label,
         COALESCE(CAST(FLOOR(1000000.0 * (CAST(t.b AS DOUBLE) - CAST(o.a AS DOUBLE))
                             / NULLIF(CAST(greatest(o.a, t.b) AS DOUBLE), 0.0)) AS BIGINT),
                  0) AS s_fp
  FROM own o JOIN other t ON t.vec_id = o.vec_id
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(s_fp) AS DOUBLE) / (1000000.0 * CAST(COUNT(*) AS DOUBLE)), 6)
         AS mean_silhouette
FROM pts
GROUP BY label
ORDER BY label
"""


@query("cluster_silhouette_by_label", oracle=_SILHOUETTE_SQL, defer=True)
def cluster_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette cluster-coherence score per label partition —
    the quality metric the clustering family lacked."""
    return silhouette_by_label(_emb(spark, sf_dir))

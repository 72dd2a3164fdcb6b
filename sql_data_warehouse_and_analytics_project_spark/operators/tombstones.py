"""Tombstone deletion for the persisted search indexes (r13).

The curation pipeline drops dedup losers and contaminated docs
(``curation.py``), but until this round no persisted index could forget
them: IVF / IVF-PQ / IVF-SQ8 vectors and inverted-index postings stayed
servable forever. This module adds the standard two-phase deletion every
production search system uses (Lucene's delete-then-merge, FAISS's
remove_ids + rebuild):

1. **delete** appends the ids to a ``<path>/tombstones`` sidecar — O(ids)
   cost, immediate effect: every serving path anti-joins the sidecar
   (broadcast — the sidecar is bounded by deletions, not corpus size)
   BEFORE its top-k cut, so a deleted id can never occupy a result slot.
2. **purge** physically rewrites the payload table without the
   tombstoned rows (partition-clustered, published with the same
   rename-aside swap as compaction) and clears the sidecar — reclaiming
   bytes and, for the inverted index, restoring exact corpus statistics.

Append-after-delete is lossless: every append path first drops the
re-added ids from the sidecar (the sidecar is rewritten minus those ids —
KB-scale work), so a re-ingested document is immediately searchable
again instead of being shadowed by its own tombstone.

Inverted-index caveat (documented, Lucene-identical): between delete and
purge, df / n_docs / avgdl still count tombstoned docs — deleted docs
leave results immediately but corpus statistics are only corrected at
purge, exactly like deleted docs in a Lucene segment before a merge.

ref: the reference's closest surface is the predicate DELETE path
(scripts/gold: -1 member preservation); this extends it to the
derived-index world the reference does not have.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import checkpoint
from ..sources.local import local_frame

_SIDE = "tombstones"


def _side_path(path: str) -> str:
    return f"{path}/{_SIDE}"


def _ids_frame(spark: SparkSession, ids, id_col: str) -> DataFrame:
    if isinstance(ids, DataFrame):
        return ids.select(F.col(id_col).cast("bigint").alias(id_col)).distinct()
    return local_frame(spark, [(int(i),) for i in ids], f"{id_col} bigint").distinct()


def delete_ids(spark: SparkSession, path: str, ids, id_col: str) -> None:
    """Tombstone ``ids`` (an iterable or a one-column DataFrame) under the
    index at ``path``. Idempotent: re-deleting an id appends a duplicate
    sidecar row, which the DISTINCT in :func:`mask` neutralizes and the
    next :func:`purge_table` / sidecar rewrite drops."""
    _ids_frame(spark, ids, id_col).coalesce(1).write.mode("append").parquet(
        _side_path(path)
    )


def load_tombstones(spark: SparkSession, path: str, id_col: str) -> DataFrame | None:
    """Distinct tombstoned ids, or None when the index has no sidecar."""
    from ..warehouse import hdfs

    if not hdfs.exists(spark, _side_path(path)):
        return None
    return spark.read.parquet(_side_path(path)).select(id_col).distinct()


def mask(df: DataFrame, spark: SparkSession, path: str, id_col: str) -> DataFrame:
    """Exclude tombstoned ids from a serving scan — a broadcast anti-join
    against the (deletion-bounded) sidecar; a no-op when no sidecar
    exists, so undeleted indexes pay nothing."""
    stones = load_tombstones(spark, path, id_col)
    if stones is None:
        return df
    return df.join(F.broadcast(stones), id_col, "left_anti")


def unmask_ids(spark: SparkSession, path: str, ids: DataFrame, id_col: str) -> None:
    """Drop ``ids`` from the sidecar (append-after-delete support): the
    sidecar is rewritten minus the re-added ids with the rename-aside
    swap, so a crash mid-rewrite leaves the old sidecar recoverable and
    the worst case is an id still masked (conservative, re-run to heal)."""
    from ..warehouse import hdfs

    side = _side_path(path)
    if not hdfs.exists(spark, side):
        return
    # plan reads the path the swap replaces
    remaining = checkpoint(
        spark.read.parquet(side)
        .select(id_col)
        .distinct()
        .join(F.broadcast(ids.select(id_col).distinct()), id_col, "left_anti"),
        "tombstones:unmasked",
    )
    tmp = f"{side}.rewriting"
    remaining.coalesce(1).write.mode("overwrite").parquet(tmp)
    hdfs.swap_aside(spark, side, tmp)


def purge_table(
    spark: SparkSession,
    path: str,
    table: str,
    id_col: str,
    partition_col: str | None = "list_id",
    clear_sidecar: bool = True,
) -> int:
    """Physically rewrite ``<path>/<table>`` without the tombstoned rows
    and (by default) clear the sidecar. Returns the number of rows
    removed. The rewrite clusters by ``partition_col`` (None = flat table)
    and publishes with the rename-aside swap; the sidecar is deleted only
    AFTER the swap, so a crash anywhere leaves serving correct (rows
    still masked). Multi-table purges (the inverted index) pass
    ``clear_sidecar=False`` and clear it themselves after every dependent
    table is rebuilt."""
    from ..warehouse import hdfs

    stones = load_tombstones(spark, path, id_col)
    if stones is None:
        return 0
    src = f"{path}/{table}"
    rows = spark.read.parquet(src)
    removed = rows.join(F.broadcast(stones), id_col, "semi").count()
    kept = rows.join(F.broadcast(stones), id_col, "left_anti")
    tmp = f"{src}.purging"
    if partition_col is not None and partition_col in rows.columns:
        kept.repartition(partition_col).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(tmp)
    else:
        kept.write.mode("overwrite").parquet(tmp)
    hdfs.swap_aside(spark, src, tmp)
    if clear_sidecar:
        hdfs.delete(spark, _side_path(path))
    return removed

"""Incremental aggregate maintenance: keep a persisted rollup current
under appends WITHOUT re-scanning the corpus (north-star extension; the
reference's closest analog is the full gold-layer rebuild at
scripts/gold/proc_load_gold.sql, which recomputes every aggregate from
scratch on each load).

The 100 TB reality is that a full rollup recompute per ingest is a
corpus scan per batch. The standard fix is ALGEBRAIC-AGGREGATE
decomposition: persist the mergeable components (sum, count, min, max —
each combinable by a further sum/min/max), fold each arriving delta's
KB-sized partial aggregate into the stored state with one tiny groupBy,
and DERIVE the non-mergeable measures (avg) at read time. Per-ingest
cost is O(delta) + a merge over distinct keys — the corpus is scanned
exactly once, at bootstrap. The stored state commits via the same
manifest-pointer protocol as the catalog loader (``warehouse.commit``),
so a failed refresh never leaves a half-merged rollup — readers stay on
the complete old state until the atomic pointer flip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import materialized
from ..registry import query
from . import commit


def _partial(df: DataFrame, keys: list[str], measure: str) -> DataFrame:
    """The mergeable component frame for ``measure`` grouped by ``keys``:
    (keys..., m_sum DECIMAL for exactness, m_count, m_min, m_max)."""
    m = F.col(measure)
    return df.groupBy(*keys).agg(
        F.sum(m.cast("decimal(28,4)")).alias("m_sum"),
        F.count(m).cast("bigint").alias("m_count"),
        F.min(m).alias("m_min"),
        F.max(m).alias("m_max"),
    )


def _swap_in(df: DataFrame, target: str) -> None:
    """Commit ``df`` as the new rollup state via the manifest-pointer
    protocol (``commit.publish``): a crash mid-commit leaves readers on the
    complete old state, and stale dirs from crashed commits are swept on
    the next one — the crash-safety the old rename-rename swap lacked."""
    commit.publish(target, lambda vdir: df.write.mode("overwrite").parquet(vdir))


def build_rollup(
    df: DataFrame, keys: list[str], measure: str, path: str
) -> None:
    """Bootstrap the persisted rollup state from a full scan of ``df`` —
    the only corpus-wide pass this rollup will ever need."""
    _swap_in(_partial(df, keys, measure), path)


def refresh_rollup(
    spark: SparkSession, path: str, delta: DataFrame, keys: list[str], measure: str
) -> None:
    """Fold an arriving ``delta`` into the stored state: aggregate the
    delta alone (partial agg over O(delta) rows), union with the stored
    component frame, and re-merge by key — sums add, counts add, min/max
    fold. The merge input is two KB-per-key component frames, never data
    rows. The union frame is materialized into the next VERSION dir before
    the pointer flips, so the read-own-input hazard of overwriting a
    parquet path being read does not arise."""
    part = _partial(delta, keys, measure)
    stored = spark.read.schema(part.schema).parquet(commit.resolve(path))
    merged = (
        stored.unionByName(part)
        .groupBy(*keys)
        .agg(
            F.sum("m_sum").alias("m_sum"),
            F.sum("m_count").alias("m_count"),
            F.min("m_min").alias("m_min"),
            F.max("m_max").alias("m_max"),
        )
    )
    _swap_in(merged, path)


def read_rollup(
    spark: SparkSession, path: str, source: DataFrame, keys: list[str], measure: str
) -> DataFrame:
    """The query-facing view: mergeable components plus the derived avg,
    cast to the driver-hashable double surface. The state is read with the
    schema of ``source``'s component frame, not an inferred one."""
    # avg divides the two DOUBLE surfaces (not decimal/bigint) because
    # decimal-division result scale differs between engines
    total = F.col("m_sum").cast("double")
    return (
        spark.read.schema(_partial(source, keys, measure).schema)
        .parquet(commit.resolve(path))
        .select(
            *keys,
            total.alias("total"),
            F.col("m_count").alias("n_rows"),
            F.col("m_min").alias("min_value"),
            F.col("m_max").alias("max_value"),
            (total / F.col("m_count").cast("double")).alias("avg_value"),
        )
        .orderBy(*keys)
    )


# --- Registry proof ---------------------------------------------------------

_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS total,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_rows,
       MIN(l_quantity) AS min_value,
       MAX(l_quantity) AS max_value,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
         / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_value
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("warehouse_incremental_rollup", oracle=_ROLLUP_SQL, defer=True)
def warehouse_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the FULL incremental lifecycle — bootstrap on a third of
    lineitem, fold the other two thirds in as deltas, read the final state
    — and hash it against DuckDB's ONE-SHOT aggregate: the incremental
    path must be indistinguishable from a fresh full scan. State lives in
    a per-call temp dir; the result is checkpointed so the dir can be
    removed before return."""
    import tempfile

    from ..sources import tpch

    li = tpch.load(spark, sf_dir, "lineitem")
    keys, measure = ["l_returnflag", "l_linestatus"], "l_quantity"
    part = F.col("l_orderkey") % 3
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "rollup")
        build_rollup(li.filter(part == 0), keys, measure, path)
        refresh_rollup(spark, path, li.filter(part == 1), keys, measure)
        refresh_rollup(spark, path, li.filter(part == 2), keys, measure)
        return materialized(
            lambda: read_rollup(spark, path, li, keys, measure),
            "warehouse_incremental_rollup",
            order=keys,
        )

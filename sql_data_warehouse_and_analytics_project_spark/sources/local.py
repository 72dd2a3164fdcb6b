"""Driver-side rows as plan leaves that need no job and no Python worker.

Classic PySpark plans ``createDataFrame(<python list>)`` as a Python-RDD
scan, and each task reading it pays a Python worker's per-task set-up
(~0.23 CPU-s on a 4-core host). :func:`local_frame` ships the rows to the
JVM as one Arrow table instead, planned as a ``LocalRelation``; it is the
package's only ``createDataFrame``. :func:`range_offsets` is the one
range-partitioned prefix fold built on it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..materialize import checkpoint


def local_frame(spark: SparkSession, rows: list, ddl: str | T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` as a ``LocalRelation``, ``[]``
    included; naive datetimes are read as UTC, the session's pinned zone."""
    schema = ddl if isinstance(ddl, T.StructType) else T.StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def write_local(spark: SparkSession, rows: list, ddl: str, path: str) -> None:
    """Overwrite ``path`` with ``rows`` as one parquet file (index sidecars)."""
    local_frame(spark, rows, ddl).coalesce(1).write.mode("overwrite").parquet(path)


def range_offsets(
    df: DataFrame, by: list, sums: dict[str, Column], offset_type: str = "bigint"
) -> tuple[DataFrame, dict[str, int]]:
    """``(ranged, totals)``: ``df`` range-partitioned on ``by`` with ``_pid``
    and, per aggregate in ``sums``, its exact total over all EARLIER range
    partitions as ``_off_<name>``; ``totals`` holds the grand totals. A window
    per ``_pid`` plus the offset reproduces a global ``Window.orderBy(by)``
    with no single-partition exchange. ``ranged`` is checkpointed before
    the subtotal collect: range bounds are sampled per execution, and the
    offsets only line up on one partition assignment."""
    ranged = checkpoint(
        df.repartitionByRange(*by).withColumn("_pid", F.spark_partition_id()),
        "range_offsets:ranged",
    )
    names = list(sums)
    subs = sorted(
        (r["_pid"], [int(r[n]) for n in names])
        for r in ranged.groupBy("_pid").agg(*[c.alias(n) for n, c in sums.items()]).collect()
    )
    rows, running = [], [0] * len(names)
    for pid, sub in subs:
        rows.append((pid, *running))
        running = [a + b for a, b in zip(running, sub)]
    ddl = ", ".join(["_pid int"] + [f"_off_{n} {offset_type}" for n in names])
    offsets = local_frame(df.sparkSession, rows, ddl)
    return ranged.join(F.broadcast(offsets), "_pid"), dict(zip(names, running))

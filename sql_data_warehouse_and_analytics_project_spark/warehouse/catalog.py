"""Parquet-backed warehouse catalog (bronze/silver/gold/audit namespaces).

The reference's storage is SQL Server schemas+tables
(ref: scripts/init_database.sql:37-51). Here each table is a parquet
directory ``<root>/<db>/<table>`` — columnar like the reference's one
deliberate columnstore table (ref: scripts/silver/ddl_silver.sql:83-85),
except *every* table gets it for free.

Mutation model: Spark has no in-place UPDATE/DELETE on parquet, so the
reference's MERGE/UPDATE/DELETE (ref: proc_load_silver.sql:58-113,148-165;
proc_load_gold.sql:38,92) are realized as *transform-and-rewrite*: read,
compute the new state as a DataFrame, commit it as a new table version. The
commit (``commit.publish``) is the manifest-pointer protocol — write the
complete new state into an immutable version dir, then atomically flip the
one-line pointer file — the plain-parquet analog of the reference's BEGIN
TRAN/COMMIT per table load (ref: proc_load_silver.sql:57) and of a
Delta/Iceberg commit (SURVEY §7.3; delta-spark is not installable here). A
crash at any instant leaves readers on a complete old or new state, never
neither, and reads-before-overwrite are snapshotted (old version files
persist until the pointer names the new one).

Scale note (100 TB): overwrite-rewrites are per-*table* here only because the
reference rebuilds dims wholesale; the fact table is written
``partitionBy(order_year)`` and incremental appends land as new files in new
partitions — no rewrite of historical years (partition-level rather than
table-level mutation, matching the reference's year partitioning,
ref: scripts/gold/ddl_gold.sql:78-103).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..materialize import counted
from . import commit


class Catalog:
    """Maps ``db.table`` names to parquet directories under a root."""

    def __init__(self, spark: SparkSession, root: str, history: int = 0):
        """``history`` historical table versions are retained past each
        overwrite (time travel via :meth:`read_version`; 0 = trim
        eagerly)."""
        self.spark = spark
        self.root = root
        self.history = history
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        """The table's ROOT directory (pointer + version dirs live here).
        For the directory holding the current data files, use
        :meth:`data_dir`."""
        db, _, table = name.partition(".")
        return os.path.join(self.root, db, table)

    def data_dir(self, name: str) -> str:
        """The directory holding the current committed data: the pointer's
        version dir for committed tables, the root itself for legacy
        files-at-root layouts (appends, streaming sinks)."""
        return commit.resolve(self.path(name))

    def exists(self, name: str) -> bool:
        p = self.data_dir(name)
        # a table is "present" if it has data files or hive-style partition
        # dirs (e.g. order_year=2024, _key_bucket=17)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or ("=" in f and not f.startswith(".")) for f in os.listdir(p)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.data_dir(name))

    def versions(self, name: str) -> list[str]:
        """Retained version names, oldest first (current is the last)."""
        return commit.list_versions(self.path(name))

    def read_version(self, name: str, version: str) -> DataFrame:
        """Time-travel read of a retained historical version (requires the
        catalog's ``history`` retention; raises FileNotFoundError for
        trimmed or never-committed versions)."""
        return self.spark.read.parquet(commit.resolve_version(self.path(name), version))

    def overwrite(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Full-table swap (TRUNCATE+INSERT / DELETE+INSERT analog) via the
        manifest-pointer commit: the new state becomes visible at the atomic
        pointer flip, after it is completely written.

        Returns the row count written (the reference records @@ROWCOUNT into
        audit.etl_log after every load, ref: proc_load_bronze.sql:43),
        observed by the write job itself rather than a re-read.
        """
        return self._write(name, df, "overwrite", partition_by, publish=True)

    def overwrite_partitions(self, name: str, df: DataFrame, partition_by: list[str]) -> int:
        """Dynamic partition overwrite: replace ONLY the partitions present
        in ``df``, leaving every other partition's files untouched — the
        incremental-maintenance write for large partitioned facts (at 100 TB
        a delta load touches a handful of date partitions; rewriting the
        whole table per run is the scale-killer this avoids). Per-partition
        replacement is atomic at the directory level; Delta would make the
        multi-partition commit transactional — same documented trade as the
        MERGE fallback in silver.py."""
        return self._write(name, df, "overwrite", partition_by, partitionOverwriteMode="dynamic")

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Insert-select sink (ref: proc_load_silver.sql:229-242 delta append)."""
        return self._write(name, df, "append", partition_by)

    def _write(
        self, name: str, df: DataFrame, mode: str, partition_by: list[str] | None,
        publish: bool = False, **options: str
    ) -> int:
        """The catalog's one parquet writer: writes ``df`` and returns its
        row count, counted by the write job (:func:`counted`), so the input
        plan runs once. ``publish`` commits the rows as a new table version
        (``commit.publish``); otherwise they land in the current data dir."""

        def run(observed: DataFrame) -> None:
            def write(path: str) -> None:
                writer = observed.write.mode(mode).options(**options)
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(path)

            if publish:
                commit.publish(self.path(name), write, keep_versions=self.history)
            else:
                write(self.data_dir(name))

        return counted(df, run)[1]

    def drop(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    # --- table properties (TBLPROPERTIES analog) ------------------------
    #
    # A lakehouse catalog attaches key→value properties to tables (Spark:
    # ALTER TABLE ... SET TBLPROPERTIES); on this parquet-directory catalog
    # they live in a sidecar JSON at the table ROOT, outside the version
    # dirs, so it survives every overwrite() commit without copying and
    # properties behave like catalog state, not data files. The leading
    # underscore makes Spark's parquet reader skip it as metadata.

    def _props_path(self, name: str) -> str:
        return os.path.join(self.path(name), "_table_properties.json")

    def set_properties(self, name: str, props: dict[str, str]) -> None:
        """Merge ``props`` into the table's properties sidecar."""
        import json

        os.makedirs(self.path(name), exist_ok=True)
        merged = {**self.properties(name), **props}
        with open(self._props_path(name), "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)

    def properties(self, name: str) -> dict[str, str]:
        import json

        p = self._props_path(name)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

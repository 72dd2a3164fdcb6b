"""Audit framework: etl_log, data_quality_issues, etl_config, watermarks.

Mirrors the reference's audit schema (ref: scripts/audit/ddl_audit.sql:26-110)
and the orchestration context that every load proc threads a @batch_id
through (ref: scripts/init_load_all.sql:29-33). Determinism: ``RunContext``
takes an injectable ``as_of`` timestamp replacing GETDATE() (SURVEY §7.4.4) so
SCD2 effective/expiry dates and recency KPIs are reproducible under test.

These control tables are tiny (rows ≈ number of loads) — driver-side
pandas→Spark appends, never a shuffle. At 100 TB the *data* scales; the
control plane does not.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import functions as F, types as T

from ..sources.local import local_frame
from .catalog import Catalog

ETL_LOG = "audit.etl_log"
DQ_ISSUES = "audit.data_quality_issues"
ETL_CONFIG = "audit.etl_config"
WATERMARKS = "audit.watermark_thresholds"
ACCESS_LOG = "audit.access_log"  # X5 audit spec (ref: ddl_security.sql:169-179)

_LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.LongType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_message", T.StringType()),
    ]
)

_ACCESS_SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType()),
        T.StructField("user_name", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("succeeded", T.IntegerType()),
    ]
)

_DQ_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("expected_value", T.StringType()),
        T.StructField("actual_value", T.StringType()),
        T.StructField("issue_description", T.StringType()),
        T.StructField("check_layer", T.StringType()),
    ]
)

_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("config_id", T.IntegerType()),
        T.StructField("source_table", T.StringType()),
        T.StructField("target_table", T.StringType()),
        T.StructField("load_type", T.StringType()),
        T.StructField("is_active", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
    ]
)

_WM_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("last_load_date", T.TimestampType()),
        T.StructField("watermark_column", T.StringType()),
    ]
)

WATERMARK_EPOCH = dt.datetime(1900, 1, 1)  # ISNULL(last_load_date,'1900-01-01')


@dataclass
class RunContext:
    """One orchestrated pipeline run (EP1): batch id + frozen clock + audit.

    Audit rows are buffered in memory and flushed once per run
    (:meth:`flush_audit`) — a run emits ~20 log/DQ rows, and writing each as
    its own parquet-append job costs a full Spark job of fixed overhead per
    row. The reference pays one INSERT per row too, but its inserts are
    sub-ms T-SQL statements; the batched flush is the Spark-appropriate
    shape."""

    catalog: Catalog
    as_of: dt.datetime
    batch_id: int = 0
    user: str = "engine"
    _log_seq: int = field(default=0, repr=False)
    _log_rows: list = field(default_factory=list, repr=False)
    _dq_rows: list = field(default_factory=list, repr=False)
    _access_rows: list = field(default_factory=list, repr=False)

    # ------------------------------------------------------------- setup
    def init_audit_tables(self) -> None:
        """Create-if-missing the four control tables with their seeds
        (ref: ddl_audit.sql:90-103 seeds watermarks + ERP etl_config)."""
        c = self.catalog
        if not c.exists(ETL_LOG):
            c.overwrite(ETL_LOG, local_frame(c.spark, [], _LOG_SCHEMA))
        if not c.exists(DQ_ISSUES):
            c.overwrite(DQ_ISSUES, local_frame(c.spark, [], _DQ_SCHEMA))
        if not c.exists(ACCESS_LOG):
            c.overwrite(ACCESS_LOG, local_frame(c.spark, [], _ACCESS_SCHEMA))
        if not c.exists(WATERMARKS):
            seed = [
                ("silver.crm_cust_info", WATERMARK_EPOCH, "cst_create_date"),
                ("silver.crm_sales_details", WATERMARK_EPOCH, "sls_order_dt"),
            ]
            c.overwrite(WATERMARKS, local_frame(c.spark, seed, _WM_SCHEMA))
        if not c.exists(ETL_CONFIG):
            seed_cfg = [
                (1, "bronze.erp_loc_a101", "silver.erp_loc_a101", "FULL", 1, 10),
                (2, "bronze.erp_cust_az12", "silver.erp_cust_az12", "FULL", 1, 10),
                (3, "bronze.erp_px_cat_g1v2", "silver.erp_px_cat_g1v2", "FULL", 1, 10),
            ]
            c.overwrite(ETL_CONFIG, local_frame(c.spark, seed_cfg, _CONFIG_SCHEMA))

    def new_batch(self) -> int:
        """Reserve a batch id = max(batch_id)+1 (SCOPE_IDENTITY analog,
        ref: init_load_all.sql:29-33) and log the master row In Progress."""
        prev = self.catalog.read(ETL_LOG).agg(F.max("batch_id")).first()[0] or 0
        self.batch_id = int(prev) + 1
        self.log("MASTER_PIPELINE", 0, status="In Progress")
        return self.batch_id

    # ----------------------------------------------------------- logging
    def log(self, table: str, rows: int, status: str = "Success", error: str | None = None) -> None:
        self._log_seq += 1
        self._log_rows.append(
            (
                self.batch_id * 1000 + self._log_seq,
                self.batch_id,
                table,
                self.as_of,
                self.as_of,
                int(rows),
                status,
                error,
            )
        )

    def dq_issue(self, table: str, check: str, expected, actual, desc: str, layer: str) -> None:
        self._dq_rows.append((self.batch_id, table, check, str(expected), str(actual), desc, layer))

    def log_access(self, user: str, action: str, obj: str, succeeded: bool) -> None:
        """X5 audit-spec row: who attempted what on which object, and whether
        authorization allowed it (ref: ddl_security.sql:169-179 — the server
        audit records SELECTs on the gold schema incl. denied attempts).
        Buffered like log()/dq_issue() and flushed once per run."""
        self._access_rows.append((self.as_of, user, action, obj, 1 if succeeded else 0))

    def flush_audit(self) -> None:
        """Write buffered log/DQ/access rows in batched appends (once per run)."""
        spark = self.catalog.spark
        if self._log_rows:
            self.catalog.append(ETL_LOG, local_frame(spark, self._log_rows, _LOG_SCHEMA))
            self._log_rows = []
        if self._dq_rows:
            self.catalog.append(DQ_ISSUES, local_frame(spark, self._dq_rows, _DQ_SCHEMA))
            self._dq_rows = []
        if self._access_rows:
            self.catalog.append(ACCESS_LOG, local_frame(spark, self._access_rows, _ACCESS_SCHEMA))
            self._access_rows = []

    def dq_compare(self, table: str, check: str, expected, actual, desc: str, layer: str) -> bool:
        """Log an issue iff expected != actual (the reference's inline IF-
        mismatch-INSERT pattern, ref: proc_load_silver.sql:127-132)."""
        if expected != actual:
            self.dq_issue(table, check, expected, actual, desc, layer)
            return False
        return True

    # --------------------------------------------------------- watermark
    def get_watermark(self, table: str) -> dt.datetime:
        r = (
            self.catalog.read(WATERMARKS)
            .filter(F.col("table_name") == table)
            .select("last_load_date")
            .first()
        )
        return r[0] if r and r[0] is not None else WATERMARK_EPOCH

    def set_watermark(self, table: str, value: dt.datetime) -> None:
        wm = self.catalog.read(WATERMARKS)
        updated = wm.withColumn(
            "last_load_date",
            F.when(F.col("table_name") == table, F.lit(value)).otherwise(F.col("last_load_date")),
        )
        self.catalog.overwrite(WATERMARKS, updated)

    def etl_config_rows(self) -> list:
        """Active config rows in priority order (cursor source,
        ref: proc_load_metadata_driven.sql:26-40)."""
        return (
            self.catalog.read(ETL_CONFIG)
            .filter(F.col("is_active") == 1)
            .orderBy("priority", "config_id")
            .collect()
        )

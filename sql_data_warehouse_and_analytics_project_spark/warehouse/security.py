"""Gold-layer security: RLS + masking as filtered/secure views (X2, X3).

ref: scripts/security/ddl_security.sql — RBAC roles (:21-26), a
UserName→Country mapping table (:36-58), an inline TVF filter predicate
bound to fact_sales (:69-97), dynamic data masking on sales_amount
(:104-111), and sensitivity classification labels (:118-128).

Spark has no engine-enforced row policies on plain parquet; the idiomatic
equivalent is *secure views*: the RLS predicate becomes a semi join against
the mapping table for the current user, the mask becomes a conditional
projection. On a governed lakehouse these map 1:1 onto catalog row-filter /
column-mask policies; the predicate/mask expressions below are exactly what
those policies would hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .audit import RunContext

# SQL Server's default() mask renders numerics as 0 (ref: ddl_security.sql:107)
MASK_DEFAULT = 0

# Demo mapping (ref: ddl_security.sql:52-58)
DEFAULT_USER_COUNTRY = [
    ("IndiaUser", "India"),
    ("USUser", "United States"),
    ("GlobalManager", "India"),
    ("GlobalManager", "United States"),
]

# --- X1: RBAC roles + grants (ref: ddl_security.sql:21-26, 149-153) --------
#
# The reference creates gold_analyst / gold_manager, grants both SELECT on
# the gold schema, and gives only gold_manager UNMASK. Here the same model
# is an in-engine authorization table consulted by secure_read(); on a
# governed lakehouse these rows map 1:1 onto catalog GRANTs.

ROLE_MEMBERS: dict[str, set[str]] = {
    "gold_analyst": {"IndiaUser", "USUser", "analyst"},
    "gold_manager": {"GlobalManager"},
}

# (object pattern, privilege); pattern "db.*" covers every table in db
ROLE_GRANTS: dict[str, set[tuple[str, str]]] = {
    "gold_analyst": {("gold.*", "SELECT")},
    "gold_manager": {("gold.*", "SELECT"), ("gold.*", "UNMASK")},
}

MANAGER_ROLE_USERS = ROLE_MEMBERS["gold_manager"]  # back-compat alias


class AccessDeniedError(PermissionError):
    """Raised when secure_read() finds no SELECT grant for the user."""


def roles_of(user: str) -> set[str]:
    return {role for role, members in ROLE_MEMBERS.items() if user in members}


def _pattern_covers(pattern: str, obj: str) -> bool:
    db, _, _table = pattern.partition(".")
    return pattern == obj or (pattern.endswith(".*") and obj.startswith(db + "."))


def has_privilege(user: str, obj: str, privilege: str) -> bool:
    """True iff any of the user's roles carries ``privilege`` on ``obj``."""
    return any(
        _pattern_covers(pat, obj) and priv == privilege
        for role in roles_of(user)
        for (pat, priv) in ROLE_GRANTS.get(role, set())
    )


# Masking policy registry (X3): columns masked for users without UNMASK.
# gold.fact_sales.sales_amount is the reference's explicit mask
# (ddl_security.sql:104-111); every column carrying a sensitivity
# classification label (X4) is masked too — the label IS the policy, so
# adding a label to SENSITIVITY_LABELS protects the column everywhere
# secure_read() is used, with no code change.
EXPLICIT_MASKS: dict[str, set[str]] = {"gold.fact_sales": {"sales_amount"}}


def masked_columns_for(table: str) -> set[str]:
    cols = set(EXPLICIT_MASKS.get(table, set()))
    cols |= {col for (t, col) in SENSITIVITY_LABELS if t == table}
    return cols


def _mask_default_col(dtype) -> "F.Column":
    """SQL Server default() mask semantics by type (ref: ddl_security.sql
    :107 + the documented defaults): numerics → 0, dates → 1900-01-01,
    strings → 'xxxx'."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DateType, T.TimestampType)):
        return F.lit("1900-01-01").cast(dtype)
    if isinstance(dtype, T.StringType):
        return F.lit("xxxx")
    return F.lit(MASK_DEFAULT).cast(dtype)


def secure_read(ctx: RunContext, user: str, table: str) -> DataFrame:
    """The reference's full security stack on one read path: GRANT check
    (X1) → audit-spec row incl. denied attempts (X5) → RLS policy registry
    (X2) → type-aware masking of every explicitly-masked OR
    classification-labeled column unless the user holds UNMASK (X3+X4).
    Policy cost at scale is unchanged from the parts: broadcast probes and
    conditional projections — the fact never shuffles."""
    allowed = has_privilege(user, table, "SELECT")
    ctx.log_access(user, "SELECT", table, allowed)
    if not allowed:
        raise AccessDeniedError(f"{user} has no SELECT grant on {table}")
    rls_policies = {"gold.fact_sales": rls_fact_sales}
    df = rls_policies[table](ctx, user) if table in rls_policies else ctx.catalog.read(table)
    if not has_privilege(user, table, "UNMASK"):
        for c in sorted(masked_columns_for(table) & set(df.columns)):
            df = df.withColumn(c, _mask_default_col(df.schema[c].dataType))
    return df

SENSITIVITY_LABELS = {
    # ref: ddl_security.sql:118-128
    ("gold.dim_customers", "first_name"): ("Confidential", "Personal Data"),
    ("gold.dim_customers", "last_name"): ("Confidential", "Personal Data"),
    ("gold.dim_customers", "birthdate"): ("Sensitive", "Personal Data"),
}


def apply_classification_labels(ctx: RunContext, labels=None) -> dict[str, dict[str, str]]:
    """X4: persist sensitivity-classification labels as table properties —
    the lakehouse TBLPROPERTIES analog of SQL Server's
    ADD SENSITIVITY CLASSIFICATION (ref: ddl_security.sql:118-128).

    Each (table, column) label becomes two properties on the table:
    ``classification.<column>.label`` and ``classification.<column>.info_type``
    — the exact key shape governed catalogs (Unity/Polaris-style) use, so at
    scale these flow to the real catalog unchanged. Returns {table: props}."""
    out: dict[str, dict[str, str]] = {}
    for (table, column), (label, info_type) in (labels or SENSITIVITY_LABELS).items():
        out.setdefault(table, {})[f"classification.{column}.label"] = label
        out[table][f"classification.{column}.info_type"] = info_type
    for table, props in out.items():
        ctx.catalog.set_properties(table, props)
    return out


def classified_columns(ctx: RunContext, table: str) -> dict[str, dict[str, str]]:
    """Read back a table's classification labels from its properties:
    {column: {label, info_type}} — what a governance scanner consumes."""
    cols: dict[str, dict[str, str]] = {}
    for k, v in ctx.catalog.properties(table).items():
        if k.startswith("classification."):
            _, column, kind = k.split(".", 2)
            cols.setdefault(column, {})[kind] = v
    return cols


def user_country_mapping(ctx: RunContext, rows=None) -> DataFrame:
    rows = rows or DEFAULT_USER_COUNTRY
    return local_frame(ctx.catalog.spark, rows, "UserName string, Country string")


def rls_fact_sales(ctx: RunContext, user: str, mapping: DataFrame | None = None) -> DataFrame:
    """Row-level-secured fact view for ``user``.

    Mirrors fn_FilterFactSalesByCountry (ref: ddl_security.sql:69-82): a fact
    row is visible iff its customer's country appears in the user's mapping.
    Plan shape: fact ⋈ broadcast(dim) ⋈ broadcast(user's countries) as a
    LEFT SEMI join — no fact shuffle, policy cost is one broadcast probe.
    """
    cat = ctx.catalog
    fact = cat.read("gold.fact_sales")
    dim = cat.read("gold.dim_customers").select("customer_key", "country")
    allowed = (
        (mapping if mapping is not None else user_country_mapping(ctx))
        .filter(F.col("UserName") == user)
        .select(F.col("Country").alias("country"))
    )
    visible_keys = dim.join(F.broadcast(allowed), "country", "left_semi").select("customer_key")
    return fact.join(F.broadcast(visible_keys), "customer_key", "left_semi")


def masked_fact_sales(ctx: RunContext, user: str) -> DataFrame:
    """Dynamic data masking (ref: ddl_security.sql:104-111): every column in
    the mask registry (explicit masks + classification labels) masks with
    the type-appropriate default unless the user's role carries UNMASK —
    the SAME registry secure_read() consults, so a new label protects this
    legacy entry point too."""
    fact = ctx.catalog.read("gold.fact_sales")
    if has_privilege(user, "gold.fact_sales", "UNMASK"):
        return fact
    for c in sorted(masked_columns_for("gold.fact_sales") & set(fact.columns)):
        fact = fact.withColumn(c, _mask_default_col(fact.schema[c].dataType))
    return fact

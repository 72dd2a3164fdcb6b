"""End-to-end training-data curation: the operators composed as a pipeline.

This is the user story the individual operators exist for — take a raw
document corpus and produce a clean training split, with per-stage
accounting:

    1. quality gate    — Gopher repetition filter (text_quality_gopher rules)
    2. decontaminate   — drop docs sharing a 4-gram with the eval slice
    3. exact dedup     — keep the lowest doc_id per normalized content hash
    4. near dedup      — drop MinHash/LSH near-duplicate partners (keep the
                         lowest doc_id of every near-dup pair)
    5. split           — deterministic hash split into train/valid

Every stage is the library operator, unchanged — this module only wires
them, so the pipeline inherits each stage's scale shape (narrow
projections, broadcast probes, banded LSH; the only corpus-sized shuffles
are the two dedups' key shuffles). Determinism end to end: same input ⇒
byte-identical survivor set, so a 100 TB curation run is resumable and
auditable stage by stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import checkpoint, counted, released
from ..sources import tpch
from ..sources.local import local_frame
from . import dedup
from .text import (
    is_eval_doc,
    normalize_content,
    text_decontaminate,
    text_quality_gopher,
)


# Near-dedup iterates to a fixpoint (see _near_dedup_fixpoint); the cap
# bounds adversarial corpora where the LSH bucket cap keeps revealing new
# pairs each pass.
_MAX_NEAR_DEDUP_PASSES = 5


def _near_dedup_fixpoint(survivors: DataFrame, n: int) -> tuple[DataFrame, int, int]:
    """(checkpointed survivors, their count, passes run) of near dedup to
    a FIXPOINT over ``n`` input survivors: drop the higher id of every
    MinHash/LSH pair, then re-run until LSH finds nothing. One pass is not
    always enough — the deterministic band-bucket cap trims buckets to
    their smallest doc_ids, so on cap-overflowing corpora a second pass
    can surface pairs among docs the first pass never compared. Each pass
    releases the LSH pipeline's caches once its survivor set is
    checkpointed; the pass cap bounds the cost on adversarial corpora
    (overflow is audited, not silently retried forever)."""
    for n_passes in range(1, _MAX_NEAR_DEDUP_PASSES + 1):
        with released():
            pairs = dedup.minhash_lsh_pairs(survivors.select("doc_id", "lang", "text"))
            # checkpoint losers WHILE the LSH caches are warm: consuming
            # them after the release would re-run the whole pipeline uncached
            losers, n_losers = counted(
                pairs.select(F.col("doc_id_2").alias("doc_id")).distinct(),
                lambda d: checkpoint(d, "curation:near_dup_losers"),
            )
            if n_losers == 0:
                break
            survivors, n = counted(
                survivors.join(losers, "doc_id", "left_anti"),
                lambda d: checkpoint(d, "curation:near_dup_survivors"),
            )
    return survivors, n, n_passes


# one constant drives BOTH the Python default and the oracle SQL's split
# modulus — a hand-synced literal pair would silently desynchronize engines
_VALID_BUCKETS = 10


@dataclass(frozen=True)
class CurationReport:
    """Per-stage survivor counts (the audit trail a curation run logs)."""

    n_input: int
    n_after_quality: int
    n_after_decontamination: int
    n_after_exact_dedup: int
    n_after_near_dedup: int
    n_train: int
    n_valid: int
    n_near_dedup_passes: int = 1


def _stages(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame], list[int], int]:
    """Stages 1-4 over the ``documents`` table: ``(documents, survivors,
    counts, near-dedup passes)``, where ``survivors`` holds the survivor
    set after the quality gate, decontamination, exact dedup and near
    dedup, and ``counts`` their sizes.

    Each stage materializes its survivor set and TRUNCATES LINEAGE
    (localCheckpoint), and the checkpoint job counts the survivors
    (counted): without the cut, every later stage re-runs all earlier
    stages' joins from the scan — quadratic stage recompute — and the
    nested plan trees grow multiplicatively (chained persists embed each
    prior InMemoryRelation; the minhash stage over such a chain blew the
    driver heap just RENDERING its AQE plan string). A production run
    checkpoints stage outputs to the lake for the same two reasons;
    localCheckpoint is the in-session equivalent."""
    # spread once at the pipeline head (r12): every stage's survivor
    # checkpoint inherits the partitioning, so a one-row-group corpus
    # would otherwise run ALL row-wise stage work single-threaded
    docs = dedup._spread_rows(tpch.load(spark, sf_dir, "documents"))

    # 1. quality gate
    keep_ids = text_quality_gopher(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    s1, n1 = counted(
        docs.join(keep_ids, "doc_id", "left_semi"), lambda d: checkpoint(d, "curation:quality")
    )

    # 2. decontamination: drop flagged docs AND the eval slice itself
    # (the slice predicate is text.is_eval_doc — the SAME definition the
    # decontamination flags use, so the two can never drift)
    contaminated = text_decontaminate(spark, sf_dir).select("doc_id")
    s2, n2 = counted(
        s1.filter(~is_eval_doc(F.col("doc_id"))).join(contaminated, "doc_id", "left_anti"),
        lambda d: checkpoint(d, "curation:decontaminated"),
    )

    # 3. exact dedup: keep the lowest doc_id per normalized content hash
    # (text.normalize_content — the same normalization dedup_exact and the
    # document fingerprint use)
    keeper = (
        s2.select(F.sha2(normalize_content(F.col("text")), 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s3, n3 = counted(
        s2.join(keeper, "doc_id", "left_semi"), lambda d: checkpoint(d, "curation:exact_dedup")
    )

    # 4. near dedup to a fixpoint
    s4, n4, passes = _near_dedup_fixpoint(s3, n3)
    return docs, [s1, s2, s3, s4], [n1, n2, n3, n4], passes


def curate_documents(
    spark: SparkSession,
    sf_dir: str,
    valid_fraction_buckets: int = _VALID_BUCKETS,
) -> tuple[DataFrame, CurationReport]:
    """Run the full curation pipeline over the ``documents`` table.

    Returns (curated frame with a ``split`` column, per-stage report).
    The valid split is ``1/valid_fraction_buckets`` of survivors, chosen by
    a deterministic content-independent hash of doc_id (never by position —
    positional splits re-shuffle when upstream filters change)."""
    docs, (*_, survivors), counts, n_near_passes = _stages(spark, sf_dir)
    n_quality, n_decontam, n_exact, n_near = counts

    # 5. deterministic split (train/valid). The bucket hash is md5-derived
    # (same cross-engine base hash as the LSH signatures) rather than
    # xxhash64 so the curation_report oracle can replay the split counts —
    # content-independent either way (hash of doc_id, never of position).
    bucket = F.pmod(
        dedup._md5_long(F.col("doc_id").cast("string"), 15), F.lit(valid_fraction_buckets)
    )
    curated = survivors.withColumn(
        "split", F.when(bucket == 0, "valid").otherwise("train")
    )
    n_valid = curated.filter(F.col("split") == "valid").count()

    report = CurationReport(
        n_input=docs.count(),
        n_after_quality=n_quality,
        n_after_decontamination=n_decontam,
        n_after_exact_dedup=n_exact,
        n_after_near_dedup=n_near,
        n_train=n_near - n_valid,
        n_valid=n_valid,
        n_near_dedup_passes=n_near_passes,
    )
    return curated, report


# --- Registry query: the composed pipeline as a correctness surface --------
#
# curation_report gives the END-TO-END pipeline a cross-engine oracle row
# (VERDICT r05 #5): per-stage survivor counts, the near-dedup pass count,
# the train/valid split sizes, and an order-independent survivor-set hash.
# The DuckDB oracle independently replays ALL five stages — including the
# near-dedup fixpoint, unrolled to the pass cap with the parameterized
# MinHash/LSH pair SQL (dedup._sql_minhash_pairs_over) — so a drift in any
# stage, in the pass semantics, or in the final survivor SET flips the row.

_HASH_MOD = 1_000_000_007  # survivor-set hash: SUM(md5_60bit(doc_id) % p) % p
# (per-row reduction keeps the running sum < n·p — no bigint overflow in
# either engine at any realistic corpus size; DuckDB SUM widens to HUGEINT
# and is cast back down after the final mod)


def _sql_survivors(n_passes: int) -> str:
    """CTE chain s1..s{3+n_passes}: quality gate, eval-drop+decontaminate,
    exact dedup, then one near-dedup pass per unrolled step. Later passes
    of an already-converged corpus drop nothing, so unrolling to the cap
    computes the same final set the Spark loop's early exit does."""
    from .dedup import _sql_minhash_pairs_over
    from .text import _DECONTAM_SQL, _GOPHER_SQL, EVAL_SLICE_MOD, SQL_NORM

    # Every stage CTE is MATERIALIZED: each s_k is referenced twice (by the
    # next pass's pair subquery and by the next survivor filter), so
    # DuckDB's default inline-per-reference planning would re-expand the
    # whole prefix chain 2^passes times — thousands of bound parquet-scan
    # instances (observed as fd exhaustion at bind time) before any data
    # moves. Materialization evaluates each stage once, mirroring the Spark
    # side's per-stage localCheckpoint.
    parts = [
        f"kept AS MATERIALIZED (SELECT doc_id FROM ({_GOPHER_SQL}) WHERE keep)",
        f"contaminated AS MATERIALIZED (SELECT doc_id FROM ({_DECONTAM_SQL}))",
        "s1 AS MATERIALIZED (SELECT d.doc_id, d.lang, d.text FROM documents d"
        " JOIN kept k ON d.doc_id = k.doc_id)",
        f"s2 AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id % {EVAL_SLICE_MOD} <> 0"
        " AND doc_id NOT IN (SELECT doc_id FROM contaminated))",
        f"""s3 AS MATERIALIZED (
  SELECT s2.* FROM s2
  JOIN (
    SELECT MIN(doc_id) AS doc_id
    FROM (SELECT doc_id, sha256({SQL_NORM}) AS h FROM s2)
    GROUP BY h
  ) keeper ON s2.doc_id = keeper.doc_id
)""",
    ]
    for p in range(1, n_passes + 1):
        src = f"s{2 + p}"
        parts.append(
            f"l{p} AS MATERIALIZED (SELECT DISTINCT doc_id_2 AS doc_id"
            f" FROM ({_sql_minhash_pairs_over(src)}))"
        )
        parts.append(
            f"s{3 + p} AS MATERIALIZED (SELECT * FROM {src}"
            f" WHERE doc_id NOT IN (SELECT doc_id FROM l{p}))"
        )
    return ",\n".join(parts)


def _curation_sql() -> str:
    from .dedup import _sql_md5_long

    n = _MAX_NEAR_DEDUP_PASSES
    final = f"s{3 + n}"
    h = _sql_md5_long("CAST(doc_id AS VARCHAR)", 15)
    pass_cases = "\n         ".join(
        f"WHEN (SELECT COUNT(*) FROM l{p}) = 0 THEN {p}" for p in range(1, n + 1)
    )
    return f"""
WITH
{_sql_survivors(n)},
split AS (
  SELECT doc_id, CASE WHEN {h} % {_VALID_BUCKETS} = 0 THEN 'valid' ELSE 'train' END AS split
  FROM {final}
)
SELECT 1::BIGINT AS stage_no, 'input' AS stage,
       (SELECT COUNT(*) FROM documents)::BIGINT AS value
UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM s1)
UNION ALL SELECT 3, 'decontaminate', (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM s3)
UNION ALL SELECT 5, 'near_dedup', (SELECT COUNT(*) FROM {final})
UNION ALL SELECT 6, 'train', (SELECT COUNT(*) FROM split WHERE split = 'train')
UNION ALL SELECT 7, 'valid', (SELECT COUNT(*) FROM split WHERE split = 'valid')
UNION ALL SELECT 8, 'near_dedup_passes',
       CASE {pass_cases}
         ELSE {n} END
UNION ALL SELECT 9, 'survivor_hash',
       (SELECT CAST(COALESCE(SUM({h} % {_HASH_MOD}), 0) % {_HASH_MOD} AS BIGINT)
        FROM {final})
ORDER BY stage_no
"""


from ..registry import query  # noqa: E402


@query("curation_report", oracle=_curation_sql(), defer=True)
def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline, reported as an auditable frame:
    (stage_no, stage, value) — per-stage survivor counts, near-dedup pass
    count, split sizes, and the md5-derived order-independent hash of the
    final survivor id set. Running the pipeline happens inside the query
    call (stage materialization via localCheckpoint is part of its scale
    design); the returned frame is the audit artifact a 100 TB run logs.

    Registered past the driver's 50-entry CORRECTNESS window (the stable
    r4/r5 keys keep their slots; see COVERAGE.md) — the cross-engine proof
    runs in tests/test_oracle_parity.py, where DuckDB replays all five
    stages including the unrolled near-dedup fixpoint."""
    curated, rep = curate_documents(spark, sf_dir)
    h = dedup._md5_long(F.col("doc_id").cast("string"), 15)
    surv_hash = curated.agg(
        (F.coalesce(F.sum(h % _HASH_MOD), F.lit(0)) % _HASH_MOD).alias("v")
    ).collect()[0]["v"]
    rows = [
        (1, "input", rep.n_input),
        (2, "quality", rep.n_after_quality),
        (3, "decontaminate", rep.n_after_decontamination),
        (4, "exact_dedup", rep.n_after_exact_dedup),
        (5, "near_dedup", rep.n_after_near_dedup),
        (6, "train", rep.n_train),
        (7, "valid", rep.n_valid),
        (8, "near_dedup_passes", rep.n_near_dedup_passes),
        (9, "survivor_hash", int(surv_hash)),
    ]
    return local_frame(spark, rows, "stage_no bigint, stage string, value bigint").orderBy(
        "stage_no"
    )


# --- Per-document drop-reason lineage (r12) ---------------------------------
#
# curation_report proves the pipeline's per-stage COUNTS; at 100 TB the
# operational question is per-DOCUMENT: "why is doc X not in my training
# set?" — the lineage table a production curation run writes next to its
# output. One row per input doc tagged with the FIRST stage that dropped
# it (pipeline order), or its kept split. The Spark side recomputes the
# stage survivor sets with the same _stages curate_documents runs; the
# DuckDB oracle reuses the IDENTICAL _sql_survivors CTE chain
# as curation_report, so the two lineage surfaces cannot drift from the
# count surface (and a consistency pytest pins reason counts == report
# deltas).


def curation_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, reason) for every input document; reason in ('quality',
    'eval_slice', 'contaminated', 'exact_dup', 'near_dup', 'kept_train',
    'kept_valid'), first-failing-stage semantics in pipeline order."""
    from .text import EVAL_SLICE_MOD

    docs, (s1, s2, s3, survivors), _, _ = _stages(spark, sf_dir)

    def _flag(ids: DataFrame, name: str):
        return ids.select("doc_id").withColumn(name, F.lit(True))

    bucket = F.pmod(dedup._md5_long(F.col("doc_id").cast("string"), 15), F.lit(_VALID_BUCKETS))
    reason = (
        F.when(F.col("in_s1").isNull(), "quality")
        .when(F.col("doc_id") % EVAL_SLICE_MOD == 0, "eval_slice")
        .when(F.col("in_s2").isNull(), "contaminated")
        .when(F.col("in_s3").isNull(), "exact_dup")
        .when(F.col("in_final").isNull(), "near_dup")
        .when(bucket == 0, "kept_valid")
        .otherwise("kept_train")
    )
    return (
        docs.select("doc_id")
        .join(_flag(s1, "in_s1"), "doc_id", "left")
        .join(_flag(s2, "in_s2"), "doc_id", "left")
        .join(_flag(s3, "in_s3"), "doc_id", "left")
        .join(_flag(survivors, "in_final"), "doc_id", "left")
        .select("doc_id", reason.alias("reason"))
        .orderBy("doc_id")
    )


def _drop_reasons_sql() -> str:
    from .dedup import _sql_md5_long
    from .text import EVAL_SLICE_MOD

    n = _MAX_NEAR_DEDUP_PASSES
    final = f"s{3 + n}"
    h = _sql_md5_long("CAST(d.doc_id AS VARCHAR)", 15)
    return f"""
WITH
{_sql_survivors(n)}
SELECT d.doc_id,
       CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'quality'
            WHEN d.doc_id % {EVAL_SLICE_MOD} = 0 THEN 'eval_slice'
            WHEN d.doc_id NOT IN (SELECT doc_id FROM s2) THEN 'contaminated'
            WHEN d.doc_id NOT IN (SELECT doc_id FROM s3) THEN 'exact_dup'
            WHEN d.doc_id NOT IN (SELECT doc_id FROM {final}) THEN 'near_dup'
            WHEN {h} % {_VALID_BUCKETS} = 0 THEN 'kept_valid'
            ELSE 'kept_train' END AS reason
FROM documents d
ORDER BY d.doc_id
"""


@query("curation_drop_reasons", oracle=_drop_reasons_sql(), defer=True)
def curation_drop_reasons_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation lineage: the first pipeline stage that dropped
    each doc (or its kept split) — the audit table that answers 'why is
    doc X missing from the training set' without re-running anything."""
    return curation_drop_reasons(spark, sf_dir)


# --- ingest data-quality suite (r12) -----------------------------------------
#
# The documents-table twin of the warehouse DQ checks (quality.py): the
# assertions an ingest pipeline runs BEFORE any curation math trusts the
# table. One (check, n_violations, pass) row per rule, every rule a
# single-scan aggregate (the union is over one-row frames, so the suite
# costs one pass per rule over a column-pruned scan — at 100 TB fuse
# them into one multi-aggregate pass if the scan dominates).

_DQ_SQL = """
WITH base AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
)
SELECT check_name, n_violations, n_violations = 0 AS pass FROM (
  SELECT 'doc_id_not_null' AS check_name,
         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM base
  UNION ALL
  SELECT 'doc_id_unique',
         CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) FROM base
  UNION ALL
  SELECT 'text_not_null_or_empty',
         CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
  FROM base
  UNION ALL
  SELECT 'lang_in_domain',
         CAST(SUM(CASE WHEN lang IS NULL
                       OR lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT)
  FROM base
  UNION ALL
  SELECT 'source_not_null',
         CAST(SUM(CASE WHEN source IS NULL OR trim(source) = '' THEN 1 ELSE 0 END) AS BIGINT)
  FROM base
  UNION ALL
  SELECT 'n_chars_matches_text',
         CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
  FROM base
)
ORDER BY check_name
"""


def documents_dq_checks(docs: DataFrame) -> DataFrame:
    """(check_name, n_violations, pass) over the six ingest rules — see
    the section note."""
    null_sum = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731

    def rule(name: str, agg) -> DataFrame:
        return docs.agg(agg.alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    frames = [
        rule("doc_id_not_null", null_sum(F.col("doc_id").isNull())),
        rule(
            "doc_id_unique",
            # count only non-null ids: null-ness is its own rule
            (F.count("doc_id") - F.countDistinct("doc_id")).cast("bigint"),
        ),
        rule(
            "text_not_null_or_empty",
            null_sum(F.col("text").isNull() | (F.trim("text") == "")),
        ),
        rule(
            "lang_in_domain",
            null_sum(
                F.col("lang").isNull() | ~F.col("lang").isin("en", "de", "fr", "es", "zh")
            ),
        ),
        rule(
            "source_not_null",
            null_sum(F.col("source").isNull() | (F.trim("source") == "")),
        ),
        rule(
            "n_chars_matches_text",
            null_sum(
                F.col("n_chars").isNull() | (F.col("n_chars") != F.length("text"))
            ),
        ),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "check_name", "n_violations", (F.col("n_violations") == 0).alias("pass")
    ).orderBy("check_name")


@query("curation_dq_checks", oracle=_DQ_SQL, defer=True)
def curation_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six ingest data-quality rules over the documents table — the
    gate an automated curation pipeline runs before trusting the table
    (documents twin of the warehouse quality checks)."""
    return documents_dq_checks(tpch.load(spark, sf_dir, "documents"))

"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).

The local-fingerprinting guarantee the MinHash/SimHash family cannot give:
select, per document, the RIGHTMOST minimal k-gram hash of every sliding
window of ``w`` consecutive k-grams.  Any two documents sharing a verbatim
token run of at least ``w + k - 1`` tokens are GUARANTEED to share a
selected fingerprint (every length-w gram window inside the run selects
the same gram in both docs), while expected fingerprint density is only
2/(w+1) — the plagiarism/boilerplate detector of MOSS, token-level here.

Scale shape: fingerprint selection is ONE narrow projection — tokens →
gram hashes → window minima — entirely in array HOFs (no explode, no
per-doc window exchange), so a 100 TB corpus fingerprints at scan speed
with zero shuffle.  The only shuffles are the (fingerprint → docs) groupBy
and the within-bucket pair join, which is bounded at O(cap²) per
fingerprint by the same deterministic smallest-id cap as the LSH/semantic
families (``row_number() <= cap`` → WindowGroupLimit map-side pre-trim).

Cross-engine determinism: gram hash = md5-10-hex bigint (40 bits); the
rightmost-min tie-break is encoded arithmetically — enc = h·2^20 +
(2^20−1−pos) — so a window's MIN picks the smallest hash and, on ties,
the largest position, replayed bit-for-bit by DuckDB list comprehensions.
Docs longer than 2^20 grams would overflow the position field and are
excluded in BOTH engines (at 100 TB, pre-chunk such docs first).

ref: reference has no local-fingerprint operator; this extends the
dedup family (scripts/tests/quality_checks_silver.sql exercises only
exact-duplicate checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import checkpoint, missing_rows
from ..registry import query
from ..sources import tpch

_K = 4  # tokens per k-gram
_W = 4  # grams per winnowing window
_POS_BITS = 20  # position field width: docs must have < 2^20 grams
_POS_MOD = 1 << _POS_BITS
_HEX = 10  # md5 hex chars for the gram hash (40 bits; 40+20=60 < 63)
_BUCKET_CAP = 64  # smallest-doc_id cap per fingerprint bucket
_MIN_SHARED = 2  # report pairs sharing at least this many fingerprints


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.load(spark, sf_dir, "documents")


def winnow_fingerprints(docs: DataFrame, spread: bool = True) -> DataFrame:
    """(doc_id, h): the distinct winnowed fingerprint hashes of every
    document with at least ``_K + _W - 1`` tokens — one narrow projection,
    see the module note. ``spread`` repartitions a narrower-than-cores
    input before the row-wise-heavy md5 cascade (a no-op on a many-split
    corpus; ``spread=False`` exposes the inherent zero-Exchange plan the
    plan pin asserts)."""
    from .dedup import _md5_long, _spread_rows

    if spread:
        docs = _spread_rows(docs)
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select("doc_id", t.alias("t"))
    n_grams = F.size("t") - (_K - 1)
    grams = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, _K)),
    )
    encs = F.transform(
        grams,
        lambda g, p: _md5_long(g, _HEX) * F.lit(_POS_MOD)
        + (F.lit(_POS_MOD - 1) - p),
    )
    # r19: the eligibility gate lives INSIDE the encoding expression
    # (ineligible docs encode to an empty array, which the final explode
    # drops) — the old separate Filter was pushed below the token
    # projection with the alias substituted, re-tokenizing every row a
    # second time. The md5 cascade still runs only on eligible docs (the
    # `when` short-circuits), and the sels/hs window math is guarded on
    # size(encs) so the backward-sequence hazard never evaluates.
    eligible = (F.size("t") >= _K + _W - 1) & (F.size("t") < _POS_MOD + _K - 1)
    withe = base.select(
        "doc_id",
        F.when(eligible, encs).otherwise(F.array().cast("array<bigint>")).alias("encs"),
    )
    sels = F.array_distinct(
        F.transform(
            F.sequence(F.lit(_W - 1), F.size("encs") - 1),
            lambda p: F.array_min(F.slice(F.col("encs"), p - (_W - 2), _W)),
        )
    )
    # shiftright, not division: e reaches 2^60 and would lose bits in a
    # double round-trip
    hs = F.array_distinct(F.transform(sels, lambda e: F.shiftright(e, _POS_BITS)))
    hs_guarded = F.when(F.size("encs") >= _W, hs).otherwise(
        F.array().cast("array<bigint>")
    )
    return withe.select("doc_id", F.explode(hs_guarded).alias("h"))


def winnow_pairs(
    docs: DataFrame, min_shared: int = _MIN_SHARED, cap: int = _BUCKET_CAP
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= ``min_shared``
    winnowed fingerprints, candidate membership per fingerprint bounded
    at the ``cap`` smallest doc_ids (deterministic, oracle-replayable —
    the LSH family's bucket discipline)."""
    from pyspark.sql import Window

    fp = winnow_fingerprints(docs)
    w = Window.partitionBy("h").orderBy("doc_id")
    capped = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def _winnow_sql() -> str:
    from .dedup import _sql_md5_long

    gram = f"array_to_string(t[j:j+{_K - 1}], ' ')"
    h = _sql_md5_long(gram, _HEX)
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
),
eligible AS (
  SELECT doc_id, t FROM toks
  WHERE len(t) >= {_K + _W - 1} AND len(t) < {_POS_MOD + _K - 1}
),
encoded AS (
  SELECT doc_id,
         [{h} * {_POS_MOD} + ({_POS_MOD - 1} - (j - 1))
          FOR j IN range(1, len(t) - {_K - 2})] AS encs
  FROM eligible
),
fps AS (
  SELECT doc_id,
         list_distinct([e >> {_POS_BITS} FOR e IN
           list_distinct([list_min(encs[p-{_W - 1}:p])
                          FOR p IN range({_W}, len(encs) + 1)])]) AS hs
  FROM encoded
),
fp AS (SELECT doc_id, UNNEST(hs) AS h FROM fps),
capped AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM fp
  ) WHERE rn <= {_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING COUNT(*) >= {_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


_WINNOW_SQL = _winnow_sql()


@query("dedup_winnow_pairs", oracle=_WINNOW_SQL, headline=True, defer=True)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint pairs: documents sharing >= 2 selected
    k-gram fingerprints — the LOCAL-match guarantee (any verbatim
    w+k−1-token run is caught) that the global MinHash/SimHash sketches
    cannot give, at 2/(w+1) fingerprint density."""
    return winnow_pairs(_docs(spark, sf_dir))


# --- exact containment verify over winnow candidates -------------------------
#
# The verify stage that makes the fingerprint candidates actionable, and
# the measure is CONTAINMENT — |shared grams| / min(|A|, |B|) — not
# Jaccard: a short document quoted wholesale inside a long one scores
# ~1.0 here while its Jaccard stays near zero, which is exactly the
# quotation/boilerplate-inclusion case local fingerprints exist to catch.
# Scale shape: only candidate pairs (already bucket-capped) reach the
# gram joins; each join is 1:1 per (doc, gram) row, and per-doc gram
# cardinalities come from one partial-agg groupBy.

_CONTAIN_MIN = 0.25


def winnow_verified(docs: DataFrame, min_containment: float = _CONTAIN_MIN) -> DataFrame:
    """(doc_a, doc_b, shared_grams, containment): winnow candidate pairs
    confirmed by exact distinct-4-gram containment >= ``min_containment``
    (exact integer ratio, engine-identical)."""
    from .dedup import _spread_rows

    docs = _spread_rows(docs)
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select("doc_id", t.alias("t"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - _K),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, _K)),
        )
    )
    # r19: gate folded into the gram expression (see winnow_fingerprints) —
    # a pushed-down size Filter re-tokenizes every row; explode drops the
    # empty arrays of short docs
    grams_guarded = F.when(F.size("t") >= _K, grams).otherwise(
        F.array().cast("array<string>")
    )
    gram_rows = base.select("doc_id", F.explode(grams_guarded).alias("g"))
    n_grams = gram_rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    cand = winnow_pairs(docs).select("doc_a", "doc_b")
    ga = gram_rows.select(F.col("doc_id").alias("doc_a"), "g")
    gb = gram_rows.select(F.col("doc_id").alias("doc_b"), "g")
    shared = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    na = n_grams.select(F.col("doc_id").alias("doc_a"), F.col("ng").alias("na"))
    nb = n_grams.select(F.col("doc_id").alias("doc_b"), F.col("ng").alias("nb"))
    return (
        shared.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "_raw",
            F.col("shared_grams").cast("double")
            / F.least("na", "nb").cast("double"),
        )
        # Filter on the UNROUNDED ratio (same value the oracle's WHERE uses);
        # only the output column is rounded. Filtering on the rounded value
        # would keep a raw ratio in [threshold - 5e-7, threshold) that the
        # oracle drops, breaking hash parity at the boundary.
        .filter(F.col("_raw") >= min_containment)
        .select(
            "doc_a",
            "doc_b",
            "shared_grams",
            F.round(F.col("_raw"), 6).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _winnow_verified_sql() -> str:
    base = _winnow_sql().strip().rstrip()
    # reuse the candidate SQL as a subquery; recompute exact gram sets
    return f"""
WITH cand AS (
{base}
),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[j:j+{_K - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - {_K - 2})) AS u(j)
  WHERE len(t) >= {_K}
),
ng AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY c.doc_a, c.doc_b
)
SELECT s.doc_a, s.doc_b, s.shared_grams,
       ROUND(CAST(s.shared_grams AS DOUBLE)
             / CAST(LEAST(na.n, nb.n) AS DOUBLE), 6) AS containment
FROM shared s
JOIN ng na ON na.doc_id = s.doc_a
JOIN ng nb ON nb.doc_id = s.doc_b
WHERE CAST(s.shared_grams AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE)
      >= {_CONTAIN_MIN}
ORDER BY doc_a, doc_b
"""


_WINNOW_VERIFIED_SQL = _winnow_verified_sql()


@query("dedup_winnow_verified", oracle=_WINNOW_VERIFIED_SQL, defer=True)
def dedup_winnow_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow candidates confirmed by exact 4-gram CONTAINMENT (shared /
    min-side) — the quotation/boilerplate-inclusion detector Jaccard
    misses when a short doc hides inside a long one."""
    return winnow_verified(_docs(spark, sf_dir))


# --- incremental winnowing index (r13) ----------------------------------------
#
# The batch pipelines above re-fingerprint the whole corpus every run; a
# production ingest needs to check each ARRIVING batch for verbatim-run
# overlap against everything already accepted WITHOUT re-scanning the
# stored text — the winnow analog of dedup.append_minhash_index, closing
# the last near-dup family without an incremental path. The index persists
# only the fingerprint surface — (doc_id, h) partitioned by band =
# h % _IDX_BANDS — never the text: ~12 bytes/fingerprint at 2/(w+1)
# density, independent of document size.
#
# Scale shape of a query: the new batch's fingerprints are ONE
# zero-Exchange HOF projection (winnow_fingerprints), BROADCAST into the
# stored-fingerprint join — the stored corpus is never shuffled; only the
# matched candidate rows reach the n_shared groupBy. The per-fingerprint
# bucket cap is applied at build/append time (the LSH discipline:
# smallest-doc_id, deterministic) and re-applied globally by
# compact_winnow_index, which also drops rows duplicated by a replayed
# append. Unlike the minhash index there is only ONE component table, so
# an append has no multi-table crash window: a redelivered batch is
# handled by replaying the append and compacting (dropDuplicates), or by
# repair_winnow_append's anti-join for an exactly-once retry.

_IDX_BANDS = 16


def _banded(fp: DataFrame) -> DataFrame:
    return fp.withColumn("band", F.pmod(F.col("h"), F.lit(_IDX_BANDS)).cast("int"))


def build_winnow_index(docs: DataFrame, path: str, cap: int = _BUCKET_CAP) -> None:
    """Write (append) the winnow fingerprint index for a corpus batch under
    ``<path>/fingerprints`` — (doc_id, h) partitioned by ``band``. The
    per-``h`` membership cap keeps any fingerprint's bucket at the ``cap``
    smallest doc_ids WITHIN this batch (the LSH append discipline; the
    global re-cap is compact_winnow_index's job)."""
    from pyspark.sql import Window

    fp = winnow_fingerprints(docs)
    w = Window.partitionBy("h").orderBy("doc_id")
    capped = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    _banded(capped).write.mode("append").partitionBy("band").parquet(
        f"{path}/fingerprints"
    )
    # append-after-delete is lossless (tombstones.py module note); no-op
    # when the index has no sidecar
    from . import tombstones

    tombstones.unmask_ids(docs.sparkSession, path, docs.select("doc_id"), "doc_id")


def append_winnow_index(docs: DataFrame, path: str, cap: int = _BUCKET_CAP) -> None:
    """Append a later batch (same layout; the fingerprint parameters are
    module constants, so the index is parameter-stable)."""
    build_winnow_index(docs, path, cap=cap)


def repair_winnow_append(docs: DataFrame, path: str, cap: int = _BUCKET_CAP) -> None:
    """Crash-convergent replay of :func:`append_winnow_index` for a
    redelivered batch: appends only the batch's fingerprint rows whose
    doc_id is not already stored (one narrow anti-join on the rare retry
    path). With a single component table this is the whole repair story —
    there is no partially-written sibling to reconcile."""
    spark = docs.sparkSession
    fp = winnow_fingerprints(docs)
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    capped = (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    capped = missing_rows(capped, f"{path}/fingerprints", "doc_id")
    if capped is not None:
        _banded(capped).write.mode("append").partitionBy("band").parquet(
            f"{path}/fingerprints"
        )
    # same append-after-delete contract as build/append (a redelivered or
    # re-ingested doc must not stay masked by an old tombstone)
    from . import tombstones

    tombstones.unmask_ids(spark, path, docs.select("doc_id"), "doc_id")


def query_winnow_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    min_shared: int = _MIN_SHARED,
) -> DataFrame:
    """(new_doc_id, indexed_doc_id, n_shared): every doc in the new batch
    sharing >= ``min_shared`` winnowed fingerprints with an INDEXED doc.
    The new batch's fingerprint frame (tiny: 2/(w+1) density over one
    batch) broadcasts into the stored join, so the stored corpus is read
    but never shuffled; DISTINCT makes the answer insensitive to duplicate
    rows from a replayed append."""
    from . import tombstones

    new_fp = _banded(winnow_fingerprints(new_docs))
    idx = tombstones.mask(
        spark.read.parquet(f"{path}/fingerprints").select("doc_id", "h", "band"),
        spark,
        path,
        "doc_id",
    )
    return (
        F.broadcast(new_fp.select(F.col("doc_id").alias("new_doc_id"), "h", "band"))
        .join(idx.select(F.col("doc_id").alias("indexed_doc_id"), "h", "band"), ["band", "h"])
        .select("new_doc_id", "indexed_doc_id", "h")
        .distinct()
        .groupBy("new_doc_id", "indexed_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("new_doc_id", "indexed_doc_id")
    )


def delete_from_winnow_index(spark: SparkSession, path: str, doc_ids) -> None:
    """Tombstone documents out of the fingerprint index (the near-dup
    family's deletion leg, same two-phase discipline as
    ``tombstones.py``): O(ids) sidecar append, deleted docs excluded from
    every query immediately; :func:`purge_winnow_index` reclaims, and
    :func:`append_winnow_index` / :func:`repair_winnow_append` re-adds
    losslessly (both unmask re-added ids)."""
    from . import tombstones

    tombstones.delete_ids(spark, path, doc_ids, "doc_id")


def purge_winnow_index(spark: SparkSession, path: str) -> int:
    """Physically rewrite ``fingerprints`` without tombstoned docs and
    clear the sidecar. Returns rows removed."""
    from . import tombstones

    return tombstones.purge_table(spark, path, "fingerprints", "doc_id", "band")


def compact_winnow_index(
    spark: SparkSession, path: str, target_file_mb: int = 128, cap: int = _BUCKET_CAP
) -> DataFrame:
    """Rewrite the append-accumulated fingerprint files and restore the
    GLOBAL per-fingerprint cap (each append caps only within its own
    batch, so a hot fingerprint can grow to cap x n_appends members).
    Returns the (h, n_members, trimmed) audit of what the re-cap dropped
    (no-silent-caps rule), localCheckpointed before the directory swap.
    Publishes with the warehouse swap discipline (live dir renamed aside
    before the replacement moves in — crash-recoverable)."""
    from pyspark.sql import Window

    from ..warehouse import hdfs

    src = f"{path}/fingerprints"
    tmp = f"{src}.compacting"
    rows = spark.read.parquet(src).select("doc_id", "h").dropDuplicates(
        ["doc_id", "h"]
    )
    counts = rows.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    audit = checkpoint(
        counts.filter(F.col("n_members") > cap).select(
            "h", "n_members", (F.col("n_members") - cap).alias("trimmed")
        ),
        "winnow_compact:overflow",
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    capped = (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    _banded(capped).repartition("band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(tmp)
    hdfs.swap_aside(spark, src, tmp)
    return audit


# Registered oracle twin of the index-query plan shape (the bm25_indexed
# pattern): the stored corpus is docs with doc_id % 5 != 0, the arriving
# batch is doc_id % 5 == 0, and the hits are the cross-batch winnow pairs
# under the same per-fingerprint cap — relationally identical to
# query_winnow_index over a freshly built index (pytest-pinned), and
# DuckDB-replayable because every step is the fingerprint algebra above.


def winnow_index_hits(
    stored: DataFrame, batch: DataFrame, min_shared: int = _MIN_SHARED,
    cap: int = _BUCKET_CAP,
) -> DataFrame:
    """Relational twin of build_winnow_index(stored) + query_winnow_index
    (batch): cross-batch fingerprint hits with the stored side bucket-capped."""
    from pyspark.sql import Window

    fp_s = winnow_fingerprints(stored)
    w = Window.partitionBy("h").orderBy("doc_id")
    capped = (
        fp_s.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    fp_b = winnow_fingerprints(batch)
    return (
        F.broadcast(fp_b.select(F.col("doc_id").alias("new_doc_id"), "h"))
        .join(capped.select(F.col("doc_id").alias("indexed_doc_id"), "h"), "h")
        .groupBy("new_doc_id", "indexed_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("new_doc_id", "indexed_doc_id")
    )


def _winnow_index_sql() -> str:
    from .dedup import _sql_md5_long

    gram = f"array_to_string(t[j:j+{_K - 1}], ' ')"
    h = _sql_md5_long(gram, _HEX)
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
),
eligible AS (
  SELECT doc_id, t FROM toks
  WHERE len(t) >= {_K + _W - 1} AND len(t) < {_POS_MOD + _K - 1}
),
encoded AS (
  SELECT doc_id,
         [{h} * {_POS_MOD} + ({_POS_MOD - 1} - (j - 1))
          FOR j IN range(1, len(t) - {_K - 2})] AS encs
  FROM eligible
),
fps AS (
  SELECT doc_id,
         list_distinct([e >> {_POS_BITS} FOR e IN
           list_distinct([list_min(encs[p-{_W - 1}:p])
                          FOR p IN range({_W}, len(encs) + 1)])]) AS hs
  FROM encoded
),
fp AS (SELECT doc_id, UNNEST(hs) AS h FROM fps),
stored AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM fp WHERE doc_id % 5 != 0
  ) WHERE rn <= {_BUCKET_CAP}
),
batch AS (SELECT doc_id, h FROM fp WHERE doc_id % 5 = 0)
SELECT b.doc_id AS new_doc_id, s.doc_id AS indexed_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM batch b JOIN stored s ON b.h = s.h
GROUP BY new_doc_id, indexed_doc_id
HAVING COUNT(*) >= {_MIN_SHARED}
ORDER BY new_doc_id, indexed_doc_id
"""


_WINNOW_INDEX_SQL = _winnow_index_sql()


@query("dedup_winnow_index_hits", oracle=_WINNOW_INDEX_SQL, defer=True)
def dedup_winnow_index_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing: an arriving batch (doc_id % 5 == 0) checked
    for verbatim-run overlap against the stored corpus (the rest) through
    the exact plan shape query_winnow_index serves from the persisted
    band-partitioned fingerprint index."""
    docs = _docs(spark, sf_dir)
    stored = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return winnow_index_hits(stored, batch)

"""Retrieval-side corpus operators: sliding-window chunking and BM25
relevance scoring (north-star extension; the reference, a pure T-SQL
warehouse, has no text-retrieval surface).

- **Sliding-window chunking** is the standard preprocessing step for both
  RAG indexing and long-document pretraining: split every document into
  fixed-token windows with overlap so no boundary-spanning span is lost.
  Scale shape: a pure projection + one explode of a per-doc chunk-id
  sequence — zero shuffles, zero joins; the chunk count and every slice
  boundary are integer arithmetic on the token array, so DuckDB replays the
  exact assignment.

- **BM25 top-k** scores a fixed query-term set against the corpus with the
  classic Okapi weighting (k1=1.2, b=0.75). Scale shape: per-term term
  frequencies are ARRAY-FILTER PROJECTIONS over the token array (no
  explode, no per-term shuffle); the corpus statistics (N, df per term,
  avg doclen) reduce to ONE KB-sized aggregate row that broadcasts back,
  and the ranked cut compiles to TakeOrderedAndProject — one corpus scan
  end to end. Floating-point parity note: the score sums the per-term
  contributions in a FIXED term order (a column expression, not a row
  aggregation), because a float sum over exploded term rows would be
  partition-order-dependent and break cross-engine hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import checkpoint, missing_rows
from ..registry import query
from ..sources import tpch
from ..sources.local import write_local
from .text import SQL_TOKENS, tokens_col

_CHUNK_TOKENS = 32  # window size
_CHUNK_STRIDE = 24  # window stride (25% overlap)

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "join", "vector")  # fixed demo query
_BM25_K = 50


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.load(spark, sf_dir, "documents")


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t, len({SQL_TOKENS}) AS n FROM documents
),
counted AS (
  SELECT doc_id, t, n,
         CASE WHEN n <= {_CHUNK_TOKENS} THEN 1
              ELSE ((n - {_CHUNK_TOKENS} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}) + 1
         END AS nc
  FROM toks
),
expl AS (
  SELECT doc_id, t, n, UNNEST(range(nc)) AS chunk_id FROM counted
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(least({_CHUNK_TOKENS}, n - chunk_id * {_CHUNK_STRIDE}) AS BIGINT) AS n_tokens,
       array_to_string(
         t[chunk_id * {_CHUNK_STRIDE} + 1 : chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}],
         ' '
       ) AS chunk_text
FROM expl
ORDER BY doc_id, chunk_id
"""


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = _CHUNK_TOKENS, stride: int = _CHUNK_STRIDE
) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_text) sliding windows of
    ``chunk_tokens`` whitespace tokens every ``stride`` tokens. The final
    window may be short; a doc at or under one window yields exactly one
    chunk. Pure projection + sequence-explode: no shuffle at any corpus
    size (the output order-by is presentation only)."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.floor((n - chunk_tokens + stride - 1) / stride).cast("int") + 1
    )
    start = F.col("chunk_id").cast("int") * stride
    return (
        docs.select("doc_id", toks.alias("t"), n.alias("n"), n_chunks.alias("nc"))
        .select(
            "doc_id",
            "t",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.least(F.lit(chunk_tokens), F.col("n") - start).cast("bigint").alias(
                "n_tokens"
            ),
            F.concat_ws(" ", F.slice(F.col("t"), start + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query("text_chunk_sliding", oracle=_CHUNK_SQL, defer=True)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk assignment over the documents table: 32-token
    windows, 24-token stride, engine-reproducible boundaries."""
    return chunk_documents(_docs(spark, sf_dir))


def _bm25_sql(terms: tuple[str, ...], k: int) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter({SQL_TOKENS}, x -> lower(x) = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_aggs = ",\n         ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    # fixed-order sum; formula shape mirrors the Spark expression exactly
    parts = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{i} AS DOUBLE) * {_BM25_K1 + 1.0})"
        f" / (CAST(tf_{i} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B}"
        f" + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl)))"
        f" ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH freq AS (
  SELECT doc_id,
         len({SQL_TOKENS}) AS dl,
         {tf_cols}
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
         {df_aggs}
  FROM freq
)
SELECT f.doc_id, ROUND({parts}, 6) AS bm25
FROM freq f CROSS JOIN stats
WHERE {" + ".join(f"tf_{i}" for i in range(len(terms)))} > 0
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = _BM25_TERMS,
    k: int = _BM25_K,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """(doc_id, bm25) top-k Okapi BM25 scores for ``terms``. Per-term tf is
    an array-filter projection; corpus stats are one broadcast aggregate
    row; the cut is an ordered LIMIT. Scores round to 6 dp so the oracle
    hash is insensitive to last-ulp libm differences between engines."""
    toks = tokens_col(F.col("text"))
    freq = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, lambda x: F.lower(x) == F.lit(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = F.broadcast(
        freq.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avgdl"
            ),
            *[
                F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
                for i in range(len(terms))
            ],
        )
    )
    scored = freq.crossJoin(stats)
    part = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col(f"df_{i}").cast("double") + 0.5)
            / (F.col(f"df_{i}").cast("double") + 0.5)
        )
        w = idf * (
            (tf * F.lit(k1 + 1.0))
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
                )
            )
        )
        part.append(F.when(F.col(f"tf_{i}") > 0, w).otherwise(F.lit(0.0)))
    score = part[0]
    for p in part[1:]:
        score = score + p
    any_tf = sum(F.col(f"tf_{i}") for i in range(len(terms)))
    return (
        scored.filter(any_tf > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


@query("text_bm25_topk", oracle=_bm25_sql(_BM25_TERMS, _BM25_K), defer=True)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by Okapi BM25 for the fixed query (spark, join,
    vector) — the relevance-scoring primitive a corpus search / quality
    pipeline runs at full scale."""
    return bm25_topk(_docs(spark, sf_dir))


# --- Hybrid ranking: reciprocal-rank fusion --------------------------------
#
# Production retrieval fuses several rankers (lexical relevance, fluency /
# quality, embedding similarity) without calibrating their incomparable
# score scales; reciprocal-rank fusion (RRF, Cormack et al. 2009) is the
# standard scale-free combiner: score(d) = Σ_legs 1/(C + rank_leg(d)).
# Scale shape: each leg is an independently-optimized top-k query (both
# legs here cut to k rows via TakeOrderedAndProject), so the rank windows
# and the fusion join touch only O(legs × k) rows — the corpus is scanned
# once per leg and never joined against itself. Ranks are INTEGERS, so
# cross-engine parity needs no float discipline beyond the fixed two-term
# sum and a defensive 6-dp round of 1/(C+r).

_RRF_C = 60  # the standard RRF damping constant
_RRF_K = 30  # fused result size


def _rrf_sql(terms: tuple[str, ...], k: int) -> str:
    # legs re-rank their own top-k output by the leg's (score, doc_id)
    # order, so rank values are independent of result-set row order
    from .text import _LM_SQL

    return f"""
WITH bm AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM ({_bm25_sql(terms, k)})
),
lm AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS r
  FROM (SELECT doc_id, avg_logprob FROM ({_LM_SQL})
        ORDER BY avg_logprob DESC, doc_id LIMIT {k})
)
SELECT COALESCE(bm.doc_id, lm.doc_id) AS doc_id,
       ROUND(COALESCE(1.0 / ({_RRF_C} + bm.r), 0.0)
             + COALESCE(1.0 / ({_RRF_C} + lm.r), 0.0), 6) AS rrf,
       CAST(bm.r AS BIGINT) AS bm25_rank,
       CAST(lm.r AS BIGINT) AS fluency_rank
FROM bm FULL OUTER JOIN lm ON bm.doc_id = lm.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {_RRF_K}
"""


def _ranked(leg: DataFrame, score: str, alias: str) -> DataFrame:
    from pyspark.sql import Window

    # global window over the leg's k rows only — the top-k cut has already
    # happened upstream, so the single partition holds k rows, not the corpus
    w = Window.orderBy(F.desc(score), F.asc("doc_id"))
    return leg.select(
        "doc_id", F.row_number().over(w).cast("bigint").alias(alias)
    )


def rrf_fuse(
    legs: list[tuple[DataFrame, str, str]], k: int = _RRF_K, c: int = _RRF_C
) -> DataFrame:
    """Fuse ranked legs — each (top-k frame, score column, rank alias) —
    by reciprocal-rank fusion. Returns (doc_id, rrf, <rank aliases...>);
    a doc missing from a leg contributes 0 and carries a NULL rank."""
    if not legs:
        raise ValueError("rrf_fuse needs at least one leg")
    ranked = [_ranked(df, score, alias) for df, score, alias in legs]
    fused = ranked[0]
    for r in ranked[1:]:
        fused = fused.join(r, "doc_id", "full_outer")
    score_col = None
    for _, _, alias in legs:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(c)) + F.col(alias)), F.lit(0.0)
        )
        score_col = term if score_col is None else score_col + term
    return (
        fused.select(
            "doc_id",
            F.round(score_col, 6).alias("rrf"),
            *[alias for _, _, alias in legs],
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(k)
    )


@query("retrieval_rrf_hybrid", oracle=_rrf_sql(_BM25_TERMS, _BM25_K), defer=True)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware hybrid retrieval: fuse the BM25 relevance top-50 with
    the unigram-LM fluency top-50 by reciprocal-rank fusion and keep the
    30 best — the scale-free multi-ranker combiner a corpus search runs."""
    from .text import unigram_logprob

    docs = _docs(spark, sf_dir)
    bm = bm25_topk(docs)
    lm = (
        unigram_logprob(docs)
        .select("doc_id", "avg_logprob")
        .orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
        .limit(_BM25_K)
    )
    return rrf_fuse([(bm, "bm25", "bm25_rank"), (lm, "avg_logprob", "fluency_rank")])


# --- Persisted inverted index + indexed BM25 (r11) -------------------------
#
# ``bm25_topk`` scans the CORPUS once per query — the right shape when
# queries are rare and ad-hoc, the wrong one for a serving or eval loop
# that runs many term queries against a fixed 100 TB corpus. The classic
# fix is the inverted index: postings (term, doc_id, tf, dl) built ONCE
# (one explode + one partial-aggregating groupBy), persisted PARTITIONED
# BY an md5 term-hash bucket (`postings/bucket=N/`), so a query reads only
# the partitions its terms hash to — PartitionFilters prune the rest
# (plan-pinned in tests) and query cost scales with the queried posting
# lists, not the corpus. Per-term document frequencies persist beside the
# postings under the same bucket layout (`terms/bucket=N/`) and the two
# corpus scalars (n_docs, avgdl, and the bucket modulus) in a one-row
# `stats/` table, so serving a query touches no document text at all.
#
# Cross-engine float discipline: the per-(doc, term) Okapi weight is the
# same expression as ``bm25_topk``; the per-doc score folds the matched
# weights in SORTED TERM ORDER (sort_array over (term, w) structs →
# ordered ``F.aggregate`` fold; ``list(w ORDER BY term)`` + list_reduce
# in DuckDB), because a plain float SUM over postings rows would be
# partition-order-dependent; defensive 6-dp round on the output surface.

_IDX_TERMS = ("merge", "stream", "filter")  # fixed demo query (≠ _BM25_TERMS)
_IDX_BUCKETS = 64  # term-hash partitions in the persisted layout


def doc_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf) inverted postings over lowered whitespace
    tokens — one explode + one partial-aggregating groupBy; (doc_id, term)
    is unique so downstream df counts are plain row counts."""
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    return (
        docs.select("doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def _corpus_stats(docs: DataFrame) -> DataFrame:
    """One-row (n_docs, sum_dl, avgdl). ``sum_dl`` is the algebraic half of
    avgdl — two corpora merge by adding (n_docs, sum_dl) and re-deriving
    avgdl, which is what ``append_inverted_index`` does."""
    toks = tokens_col(F.col("text"))
    return docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )


def _score_postings(
    matched: DataFrame, k: int, k1: float = _BM25_K1, b: float = _BM25_B
) -> DataFrame:
    """Fold matched postings — (doc_id, dl, term, tf, df, n_docs, avgdl)
    rows — into (doc_id, bm25) top-k. Sorted-term-order fold, 6-dp round."""
    tf = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    w = idf * (
        (tf * F.lit(k1 + 1.0))
        / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    return (
        matched.select("doc_id", F.struct("term", w.alias("w")).alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("e")).alias("arr"))
        .select(
            "doc_id",
            F.round(
                F.aggregate(
                    F.transform("arr", lambda s: s["w"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_postings_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = _IDX_TERMS,
    k: int = _BM25_K,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """(doc_id, bm25) top-k via the postings-join shape — the same logical
    plan the persisted index serves, built in memory: postings filtered to
    the query terms, df as a broadcast per-term count, corpus stats as a
    broadcast one-row aggregate. Equals ``bm25_topk`` on the same input
    (pytest-pinned) but supports arbitrary term sets without one
    array-filter column per term."""
    lowered = sorted({t.lower() for t in terms})
    # r18: filter tokens BEFORE the explode — the Generate fans out only
    # query-term occurrences (a handful per doc) instead of every token in
    # the corpus (guide §2.3: don't compute rows you immediately discard;
    # the old post-explode isin() dropped ~99% of the exploded rows).
    # r19: ONE tokenize pass for the whole query. The r18 form tokenized
    # the corpus three times per run — size(toks) and filter(toks) were
    # separate expressions in one projection (each re-ran the split), and
    # _corpus_stats(docs) ran its own full pass for n_docs/avgdl. Now a
    # single staged projection emits (doc_id, dl, query-term hits) and is
    # eager-checkpointed; BOTH the corpus stats and the postings aggregate
    # read it (dl == size of the full token array either way — lower()
    # preserves length). posts/dfreq recompute only narrow aggregates over
    # the checkpoint blocks.
    pre = checkpoint(
        docs.select(
            "doc_id",
            F.transform(tokens_col(F.col("text")), lambda x: F.lower(x)).alias("_t"),
        ).select(
            "doc_id",
            F.size("_t").alias("dl"),
            F.filter(F.col("_t"), lambda x: x.isin(*lowered)).alias("_qt"),
        ),
        "bm25:query_terms",
    )
    stats = pre.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    posts = (
        pre.select("doc_id", "dl", F.explode("_qt").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = F.broadcast(
        posts.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    matched = posts.join(dfreq, "term").crossJoin(F.broadcast(stats))
    return _score_postings(matched, k=k, k1=k1, b=b)


def _bm25_indexed_sql(terms: tuple[str, ...], k: int) -> str:
    lowered = sorted({t.lower() for t in terms})
    in_list = ", ".join(f"'{t}'" for t in lowered)
    return f"""
WITH toks AS (
  SELECT doc_id, list_transform({SQL_TOKENS}, x -> lower(x)) AS t FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(t)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM toks
),
postings AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, len(t) AS dl, UNNEST(t) AS term FROM toks)
  WHERE term IN ({in_list})
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
),
w AS (
  SELECT p.doc_id, p.term,
         ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5))
         * ((CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0})
            / (CAST(tf AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B}
               + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl))) AS w
  FROM postings p JOIN dfreq USING (term) CROSS JOIN stats
)
SELECT doc_id, ROUND(list_reduce(list(w ORDER BY term), (a, b) -> a + b), 6) AS bm25
FROM w GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


@query(
    "retrieval_bm25_indexed",
    oracle=_bm25_indexed_sql(_IDX_TERMS, _BM25_K),
    headline=True,
    defer=True,
)
def retrieval_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by Okapi BM25 for the fixed query (merge, stream,
    filter) through the postings-join shape — the logical plan the
    persisted inverted index serves at scale."""
    return bm25_postings_topk(_docs(spark, sf_dir))


def _term_bucket_col(term, n_buckets: int):
    from .dedup import _md5_long

    return (_md5_long(term, 13) % n_buckets).cast("int")


def _term_bucket_py(term: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:13], 16) % n_buckets


def build_inverted_index(
    docs: DataFrame, path: str, n_buckets: int = _IDX_BUCKETS
) -> None:
    """Build the persisted inverted index under ``path``:

    - ``postings/bucket=N/`` — (term, doc_id, dl, tf) partitioned by the
      md5 term-hash bucket (the same 13-hex md5 base hash every other
      deterministic uniform in this engine uses);
    - ``terms/bucket=N/`` — (term, df) per-term document frequency,
      same bucket layout;
    - ``stats/`` — one row (n_docs, avgdl, n_buckets).

    One corpus scan builds all three; the postings groupBy is the only
    shuffle. A 100 TB corpus shards by bucket — no reducer ever sees more
    than one bucket's terms, and a hot term is still one posting LIST, not
    one posting ROW."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    posts = doc_postings(docs).withColumn(
        "bucket", _term_bucket_col(F.col("term"), n_buckets)
    )
    posts.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/postings")
    spark = docs.sparkSession
    # df per term from the WRITTEN postings (one narrow re-scan, no second
    # corpus pass); (doc_id, term) is unique so df is a row count
    spark.read.parquet(f"{path}/postings").groupBy("bucket", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    ).write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/terms")
    _corpus_stats(docs).withColumn("n_buckets", F.lit(n_buckets)).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/stats")


def _write_stats(spark: SparkSession, path: str, n_docs: int, sum_dl: int, nb: int) -> None:
    """The one-row ``stats`` sidecar, avgdl re-derived from (n_docs, sum_dl)."""
    avgdl = float(sum_dl) / float(n_docs) if n_docs else 0.0
    ddl = "n_docs bigint, sum_dl bigint, avgdl double, n_buckets int"
    write_local(spark, [(n_docs, sum_dl, avgdl, nb)], ddl, f"{path}/stats")


def append_inverted_index(docs_new: DataFrame, path: str) -> None:
    """Incrementally fold NEW documents into an existing persisted index —
    the maintenance leg that makes the index real at 100 TB, where a full
    rebuild per ingest batch is off the table.

    Contract: ``docs_new`` doc_ids are disjoint from the already-indexed
    corpus (append, not upsert — the same contract as the incremental
    MinHash index in ``dedup.py``). Under it every merge is algebraic:

    - ``postings/`` — new (term, doc_id, dl, tf) rows APPEND into the same
      bucket partitions; old files are never touched or read.
    - ``terms/`` — per-term df adds. Only the buckets the new terms hash
      into are rewritten (dynamic partition overwrite); an ingest batch
      touching 5 of 64 buckets rewrites 5. The merged rows stage through a
      temp dir because Spark refuses to overwrite a path it is reading.
    - ``stats/`` — (n_docs, sum_dl) add driver-side (one row); avgdl is
      re-derived as double(sum_dl)/double(n_docs), bit-identical to what a
      full rebuild over the union corpus would store.

    Write order is postings → terms → stats: a crash between steps leaves
    a serving index that undercounts df/n_docs for the newest batch but
    never returns wrong postings; production would wrap the three writes
    in the manifest-pointer commit of ``warehouse/commit.py``.
    """
    spark = docs_new.sparkSession
    st = spark.read.parquet(f"{path}/stats").first()
    nb = int(st["n_buckets"])

    new = _corpus_stats(docs_new).first()
    if not new["n_docs"]:  # empty delta (routine for a streaming sink)
        return

    posts = doc_postings(docs_new).withColumn(
        "bucket", _term_bucket_col(F.col("term"), nb)
    )
    posts.write.mode("append").partitionBy("bucket").parquet(f"{path}/postings")

    # df delta per (bucket, term) from the appended batch; (doc_id, term)
    # unique + disjoint doc_ids → df merges by plain addition
    delta = posts.groupBy("bucket", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    touched = sorted(r["bucket"] for r in delta.select("bucket").distinct().collect())
    if touched:
        existing = spark.read.parquet(f"{path}/terms").filter(
            F.col("bucket").isin(touched)
        )
        merged = (
            existing.select("bucket", "term", "df")
            .unionByName(delta)
            .groupBy("bucket", "term")
            .agg(F.sum("df").cast("bigint").alias("df"))
        )
        stage = f"{path}/_terms_stage"
        merged.write.mode("overwrite").partitionBy("bucket").parquet(stage)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(mode_key, "static")
        try:
            spark.conf.set(mode_key, "dynamic")
            spark.read.parquet(stage).write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(f"{path}/terms")
        finally:
            spark.conf.set(mode_key, prev)
        # URI-agnostic cleanup (ADVICE r11): a driver-local rmtree would
        # silently leave the stage behind on an hdfs:// or s3a:// index
        from ..warehouse import hdfs

        hdfs.delete(spark, stage)

    n_docs = int(st["n_docs"]) + int(new["n_docs"])
    sum_dl = int(st["sum_dl"]) + int(new["sum_dl"])
    _write_stats(spark, path, n_docs, sum_dl, nb)
    # append-after-delete is lossless: a re-ingested (previously deleted
    # and purged) doc must not stay shadowed by a leftover tombstone
    from . import tombstones

    tombstones.unmask_ids(spark, path, docs_new.select("doc_id"), "doc_id")


def repair_append_inverted_index(
    docs_new: DataFrame, path: str, doc_registry: DataFrame | None = None
) -> None:
    """Crash-convergent replay of :func:`append_inverted_index` for a
    redelivered microbatch whose previous attempt may have died ANYWHERE
    inside the append (the streaming sink's retry path — see
    ``streaming/jobs.py: sink_stream_inverted_index``). The delta-merge
    append is not idempotent (re-running it would double postings, df,
    and stats), so this variant treats the POSTINGS table as the source
    of truth and converges no matter how far the dead attempt got:

    1. append postings only for batch docs absent from ``postings/``
       (one column-pruned doc_id anti-join);
    2. REBUILD the touched terms buckets from postings (df is a plain
       row count per (bucket, term)) instead of adding a delta;
    3. REBUILD stats: ``sum_dl`` = SUM(tf) over postings; ``n_docs``
       from ``doc_registry`` when given (the sink passes its ``ingested``
       sidecar — a zero-token doc never lands a postings row, so
       postings alone would undercount it exactly as ``_corpus_stats``
       does not), else COUNT(DISTINCT doc_id) over postings.

    Cost: one postings doc_id scan + a touched-bucket re-aggregation —
    the rare-path price of exactly-once on an at-least-once source; the
    common path stays the O(delta) ``append_inverted_index``."""
    spark = docs_new.sparkSession
    st = spark.read.parquet(f"{path}/stats").first()
    nb = int(st["n_buckets"])
    missing = missing_rows(docs_new, f"{path}/postings", "doc_id")
    if missing is not None:
        doc_postings(missing).withColumn(
            "bucket", _term_bucket_col(F.col("term"), nb)
        ).write.mode("append").partitionBy("bucket").parquet(f"{path}/postings")
    # touched buckets from the FULL batch, not just the missing docs: the
    # dead attempt may have appended postings without merging terms
    touched = sorted(
        r["bucket"]
        for r in doc_postings(docs_new)
        .select(_term_bucket_col(F.col("term"), nb).alias("bucket"))
        .distinct()
        .collect()
    )
    if touched:
        rebuilt = (
            spark.read.parquet(f"{path}/postings")
            .filter(F.col("bucket").isin(touched))
            .groupBy("bucket", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        )
        stage = f"{path}/_terms_stage"
        rebuilt.write.mode("overwrite").partitionBy("bucket").parquet(stage)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(mode_key, "static")
        try:
            spark.conf.set(mode_key, "dynamic")
            spark.read.parquet(stage).write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(f"{path}/terms")
        finally:
            spark.conf.set(mode_key, prev)
        from ..warehouse import hdfs

        hdfs.delete(spark, stage)
    post_tot = spark.read.parquet(f"{path}/postings").agg(
        F.sum("tf").cast("bigint").alias("sum_dl"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    ).first()
    sum_dl = int(post_tot["sum_dl"] or 0)
    if doc_registry is not None:
        n_docs = doc_registry.select("doc_id").distinct().count()
    else:
        n_docs = int(post_tot["n_docs"])
    _write_stats(spark, path, n_docs, sum_dl, nb)


def compact_inverted_index(spark: SparkSession, path: str) -> None:
    """Rewrite the index's append-accumulated small files: every
    :func:`append_inverted_index` lands its own file set inside each
    ``bucket=N`` directory (postings) and each dynamic-overwrite rewrite
    of a terms bucket emits one file per shuffle partition, so a
    long-running ingest accumulates O(appends) files per bucket and every
    pruned serving scan pays the listing + per-file open cost. The
    rewrite re-clusters each table by bucket (one shuffle of the stored
    rows, no document text) and publishes with the same rename-aside swap
    as ``compact_minhash_index`` / ``compact_ivf_index``
    (``hdfs.swap_aside`` — crash windows leave the data recoverable under
    ``<table>.old``; any Spark-readable URI works). Search answers are
    unchanged: a pure file-layout rewrite. The streaming ingest sink's
    ``ingested`` redelivery sidecar (when present) is coalesced with the
    same discipline."""
    from ..warehouse import hdfs
    from ..warehouse.bucketing import compact_parquet

    for table in ("postings", "terms"):
        src = f"{path}/{table}"
        tmp = f"{src}.compacting"
        spark.read.parquet(src).repartition("bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(tmp)
        hdfs.swap_aside(spark, src, tmp)
    if hdfs.exists(spark, f"{path}/ingested"):
        src = f"{path}/ingested"
        tmp = f"{src}.compacting"
        compact_parquet(spark, src, tmp)
        hdfs.swap_aside(spark, src, tmp)


def delete_from_inverted_index(spark: SparkSession, path: str, doc_ids) -> None:
    """Tombstone documents out of the persisted inverted index: O(ids)
    sidecar append; tombstoned docs leave every
    :func:`bm25_search_indexed` result IMMEDIATELY (the postings scan
    anti-joins the sidecar before scoring). Lucene-identical caveat:
    df / n_docs / avgdl still count the deleted docs until
    :func:`purge_inverted_index` — deleted docs can't be returned, but
    corpus statistics are only corrected at purge (exactly like a deleted
    Lucene doc before its segment merges)."""
    from . import tombstones

    tombstones.delete_ids(spark, path, doc_ids, "doc_id")


def purge_inverted_index(spark: SparkSession, path: str) -> int:
    """Physically remove tombstoned docs (the merge/optimize analog):
    rewrite ``postings`` without their rows, rebuild ``terms`` df counts
    and the ``stats`` row (n_docs, sum_dl, avgdl) from the surviving
    postings, then clear the sidecar — LAST, so a crash at any earlier
    point leaves serving correct (rows still masked, stats conservatively
    stale). Returns the number of postings rows removed. After purge the
    index is bit-equivalent to one built fresh over the surviving corpus
    (pytest-pinned)."""
    from . import tombstones
    from ..warehouse import hdfs

    removed = tombstones.purge_table(
        spark, path, "postings", "doc_id", "bucket", clear_sidecar=False
    )
    if removed == 0:
        hdfs.delete(spark, f"{path}/{tombstones._SIDE}")
        return 0
    nb = int(spark.read.parquet(f"{path}/stats").first()["n_buckets"])
    posts = spark.read.parquet(f"{path}/postings")
    # df per term from the purged postings — the build-time derivation
    tmp = f"{path}/terms.purging"
    posts.groupBy("bucket", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    ).repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    hdfs.swap_aside(spark, f"{path}/terms", tmp)
    # stats from surviving docs: (doc_id, dl) is repeated per term row, so
    # collapse to one row per doc first
    doc_dl = posts.select("doc_id", "dl").distinct()
    agg = doc_dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
    ).first()
    n_docs, sum_dl = int(agg["n_docs"]), int(agg["sum_dl"])
    _write_stats(spark, path, n_docs, sum_dl, nb)
    hdfs.delete(spark, f"{path}/{tombstones._SIDE}")
    return removed


def bm25_search_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k: int = _BM25_K,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """Serve a BM25 top-k query from the persisted index: the query terms
    hash to their buckets DRIVER-side, so both the postings and the terms
    scan carry ``bucket IN (...)`` partition filters — only the queried
    buckets' files are read (plan-pinned). Answers equal
    ``bm25_postings_topk`` over the indexed corpus (pytest-pinned)."""
    from . import tombstones

    st = spark.read.parquet(f"{path}/stats").first()
    lowered = sorted({t.lower() for t in terms})
    buckets = sorted({_term_bucket_py(t, st["n_buckets"]) for t in lowered})
    posts = tombstones.mask(
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(lowered))
        .drop("bucket"),
        spark,
        path,
        "doc_id",
    )
    dfreq = F.broadcast(
        spark.read.parquet(f"{path}/terms")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(lowered))
        .select("term", "df")
    )
    matched = posts.join(dfreq, "term").withColumns(
        {
            "n_docs": F.lit(st["n_docs"]).cast("bigint"),
            "avgdl": F.lit(st["avgdl"]).cast("double"),
        }
    )
    return _score_postings(matched, k=k, k1=k1, b=b)


# --- positional postings + exact phrase match (r13) --------------------------
#
# The capability bag-of-words retrieval cannot express: "these exact words
# in this exact order". Positional postings extend the (term, doc) surface
# with token positions; a k-word phrase query is then k-1 self-equi-joins
# on (doc_id, pos_i = pos_0 + i) — pure relational adjacency, no regex
# over text (a regex rescan reads the whole corpus; the positional join
# reads only the queried terms' postings). Scale shape: each leg filters
# to ONE term before joining, so the join inputs are posting-list-sized;
# persisted, the rows ride the same term-hash bucket layout as
# build_inverted_index (bucket pruning per leg), noted in the docstring —
# the registered query exercises the join shape relationally (the
# bm25_indexed pattern).

_PHRASE = ("stream", "data")  # fixed registered phrase (common corpus terms)


def positional_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, pos): one row per token occurrence with its 1-based
    position — the positional extension of :func:`doc_postings`
    ((doc_id, term, pos) is unique by construction)."""
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos0", "term")
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))


def phrase_positions(docs: DataFrame, phrase: tuple[str, ...] = _PHRASE) -> DataFrame:
    """(doc_id, pos): every starting position of an exact consecutive
    ``phrase`` occurrence — the adjacency-join core shared by the match
    counter and the snippet extractor."""
    if not phrase:
        raise ValueError("phrase must have at least one term")
    posts = positional_postings(docs)
    matched = posts.filter(F.col("term") == phrase[0].lower()).select("doc_id", "pos")
    for i, w in enumerate(phrase[1:], start=1):
        leg = posts.filter(F.col("term") == w.lower()).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        matched = matched.join(leg, ["doc_id", "pos"])
    return matched


def phrase_match(docs: DataFrame, phrase: tuple[str, ...] = _PHRASE) -> DataFrame:
    """(doc_id, n_matches): documents containing the exact consecutive
    ``phrase``, with how many times it occurs — k-1 adjacency joins over
    single-term posting slices."""
    return (
        phrase_positions(docs, phrase)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
        .orderBy("doc_id")
    )


def phrase_snippets(
    docs: DataFrame, phrase: tuple[str, ...] = _PHRASE, window: int = 5
) -> DataFrame:
    """(doc_id, first_pos, snippet): keyword-in-context extraction — the
    original-case tokens from ``window`` before the FIRST phrase match to
    ``window`` after its last word, joined by single spaces. The slice is
    an array HOF over the matched docs only (the phrase join prunes the
    corpus before any token array materializes for output)."""
    k = len(phrase)
    first = (
        phrase_positions(docs, phrase)
        .groupBy("doc_id")
        .agg(F.min("pos").cast("bigint").alias("first_pos"))
    )
    toks = tokens_col(F.col("text"))
    start = F.greatest(F.lit(1), F.col("first_pos") - window)
    end = F.least(F.size(toks).cast("bigint"), F.col("first_pos") + F.lit(k - 1 + window))
    return (
        docs.join(first, "doc_id")
        .select(
            "doc_id",
            "first_pos",
            F.concat_ws(
                " ", F.slice(toks, start, (end - start + 1).cast("int"))
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )


def _phrase_sql(phrase: tuple[str, ...] = _PHRASE) -> str:
    legs = "\n".join(
        f"JOIN posts p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.pos = p0.pos + {i}"
        f" AND p{i}.term = '{w.lower()}'"
        for i, w in enumerate(phrase[1:], start=1)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                t -> lower(t)) AS t
  FROM documents
),
posts AS (
  SELECT doc_id, t[i] AS term, i AS pos
  FROM toks, UNNEST(range(1, len(t) + 1)) v(i)
)
SELECT p0.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
FROM posts p0
{legs}
WHERE p0.term = '{phrase[0].lower()}'
GROUP BY p0.doc_id
ORDER BY p0.doc_id
"""


_PHRASE_SQL = _phrase_sql()


@query("retrieval_phrase_match", oracle=_PHRASE_SQL, headline=True, defer=True)
def retrieval_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("stream data", consecutive and in order) via
    positional-posting adjacency joins — the word-order capability the
    bag-of-words BM25 surface cannot express, reading only the queried
    terms' postings."""
    return phrase_match(_docs(spark, sf_dir))


# --- ranker agreement (r13) ----------------------------------------------------
#
# The measurement companion to RRF: fusing two rankers only helps when
# they DISAGREE usefully — near-perfect rank correlation means the
# second leg adds cost, not signal. Spearman rho between the BM25 and
# unigram-LM rankings over the docs BOTH top-k legs retain: ranks are
# the same row_number-over-(score, doc_id) integers RRF consumes, so
# rho is the exact bigint Pearson formula on identical small integers —
# one float expression at the end. O(k) everywhere.


def ranker_agreement(
    legs: list[tuple[DataFrame, str, str]],
) -> DataFrame:
    """One row (n_common, spearman_rho) between exactly two ranked legs
    (same (df, score, alias) triples ``rrf_fuse`` takes)."""
    if len(legs) != 2:
        raise ValueError("ranker_agreement compares exactly two legs")
    a = _ranked(*legs[0]).withColumnRenamed(legs[0][2], "x")
    b = _ranked(*legs[1]).withColumnRenamed(legs[1][2], "y")
    joined = a.join(b, "doc_id")
    stats = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    num = nd * sxy - sx * sy
    den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    return stats.select(
        F.col("n").alias("n_common"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("spearman_rho"),
    )


def _ranker_agreement_sql(terms: tuple[str, ...], k: int) -> str:
    from .text import _LM_SQL

    return f"""
WITH bm AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS x
  FROM ({_bm25_sql(terms, k)})
),
lm AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS BIGINT) AS y
  FROM (SELECT doc_id, avg_logprob FROM ({_LM_SQL})
        ORDER BY avg_logprob DESC, doc_id LIMIT {k})
),
joined AS (SELECT bm.x, lm.y FROM bm JOIN lm ON bm.doc_id = lm.doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM joined
)
SELECT n AS n_common,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0),
             6) AS spearman_rho
FROM stats
"""


@query("retrieval_ranker_agreement", oracle=_ranker_agreement_sql(_BM25_TERMS, _BM25_K), defer=True)
def retrieval_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the BM25 and unigram-LM top-50
    rankings — the fusion-worthiness measurement behind retrieval_rrf_hybrid."""
    from .text import unigram_logprob

    docs = _docs(spark, sf_dir)
    bm = bm25_topk(docs)
    lm = (
        unigram_logprob(docs)
        .select("doc_id", "avg_logprob")
        .orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
        .limit(_BM25_K)
    )
    return ranker_agreement([(bm, "bm25", "bm25_rank"), (lm, "avg_logprob", "fluency_rank")])


# --- persisted positional layer ----------------------------------------------
#
# Indexed phrase serving: the corpus-scan phrase join above re-tokenizes
# every document per query; production serves phrases from a PERSISTED
# positional layer living INSIDE the inverted-index directory —
# ``positions/bucket=N/`` (term, doc_id, pos) rows in the SAME md5
# term-hash bucket layout, sharing the index's stats (n_buckets), its
# append contract, and — crucially — its tombstone sidecar, so
# ``delete_from_inverted_index`` masks phrase results with no extra
# bookkeeping. A phrase query hashes its terms driver-side and reads
# only those buckets (PartitionFilters, plan-pinned); serving cost
# scales with the queried terms' position lists, never the corpus.


def add_positional_layer(docs: DataFrame, path: str) -> None:
    """Build ``positions/`` inside an EXISTING inverted index at ``path``
    (reads n_buckets from its stats) over the same corpus."""
    spark = docs.sparkSession
    nb = int(spark.read.parquet(f"{path}/stats").first()["n_buckets"])
    positional_postings(docs).withColumn(
        "bucket", _term_bucket_col(F.col("term"), nb)
    ).write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/positions")


def append_positional_layer(docs_new: DataFrame, path: str) -> None:
    """Fold NEW documents' positional rows into the layer — same
    disjoint-doc_id append contract as ``append_inverted_index``; plain
    partition appends, old files never touched."""
    spark = docs_new.sparkSession
    nb = int(spark.read.parquet(f"{path}/stats").first()["n_buckets"])
    positional_postings(docs_new).withColumn(
        "bucket", _term_bucket_col(F.col("term"), nb)
    ).write.mode("append").partitionBy("bucket").parquet(f"{path}/positions")


def repair_positional_append(docs_new: DataFrame, path: str) -> None:
    """Convergent append into the positional layer: anti-join the arriving
    docs against the stored doc_ids and append only the remainder — a
    redelivered batch (same or later at-least-once duplicate) is a no-op,
    the winnow-index repair argument (single table, no multi-table crash
    window). Builds the layer on first contact."""
    from ..warehouse import hdfs

    spark = docs_new.sparkSession
    if not hdfs.exists(spark, f"{path}/positions"):
        add_positional_layer(docs_new, path)
        return
    existing = spark.read.parquet(f"{path}/positions").select("doc_id").distinct()
    fresh = docs_new.join(existing, "doc_id", "left_anti")
    append_positional_layer(fresh, path)


def phrase_search_indexed(
    spark: SparkSession, path: str, phrase: tuple[str, ...] = _PHRASE
) -> DataFrame:
    """(doc_id, n_matches) for an exact phrase served from the positional
    layer: driver-side term hashing prunes to the queried buckets, the
    shared tombstone sidecar masks deleted docs, then the same k-1
    adjacency joins as :func:`phrase_match` — answers identical to the
    corpus-scan path over the indexed corpus (pytest-pinned)."""
    from . import tombstones

    if not phrase:
        raise ValueError("phrase must have at least one term")
    nb = int(spark.read.parquet(f"{path}/stats").first()["n_buckets"])
    lowered = [t.lower() for t in phrase]
    buckets = sorted({_term_bucket_py(t, nb) for t in lowered})
    posts = tombstones.mask(
        spark.read.parquet(f"{path}/positions")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(sorted(set(lowered))))
        .drop("bucket"),
        spark,
        path,
        "doc_id",
    )
    matched = posts.filter(F.col("term") == lowered[0]).select("doc_id", "pos")
    for i, w in enumerate(lowered[1:], start=1):
        leg = posts.filter(F.col("term") == w).select("doc_id", (F.col("pos") - i).alias("pos"))
        matched = matched.join(leg, ["doc_id", "pos"])
    return (
        matched.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
        .orderBy("doc_id")
    )


def _phrase_snippet_sql(phrase: tuple[str, ...] = _PHRASE, window: int = 5) -> str:
    k = len(phrase)
    legs = "\n".join(
        f"JOIN posts p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.pos = p0.pos + {i}"
        f" AND p{i}.term = '{w.lower()}'"
        for i, w in enumerate(phrase[1:], start=1)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
posts AS (
  SELECT doc_id, lower(t[i]) AS term, i AS pos
  FROM toks, UNNEST(range(1, len(t) + 1)) v(i)
),
matched AS (
  SELECT p0.doc_id AS doc_id, p0.pos AS pos
  FROM posts p0
  {legs}
  WHERE p0.term = '{phrase[0].lower()}'
),
firstm AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS first_pos FROM matched GROUP BY doc_id
)
SELECT f.doc_id AS doc_id, f.first_pos AS first_pos,
       array_to_string(
         d.t[greatest(1, f.first_pos - {window}):least(len(d.t), f.first_pos + {k - 1 + window})],
         ' ') AS snippet
FROM firstm f JOIN toks d ON d.doc_id = f.doc_id
ORDER BY f.doc_id
"""


_PHRASE_SNIPPET_SQL = _phrase_snippet_sql()


@query("retrieval_phrase_snippets", oracle=_PHRASE_SNIPPET_SQL, defer=True)
def retrieval_phrase_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets around the first "stream data" phrase
    match per document — the result-presentation leg of the positional
    retrieval stack (search → phrase → snippet)."""
    return phrase_snippets(_docs(spark, sf_dir))


# --- TF-IDF keyword extraction (r12) -----------------------------------------
#
# Per-document keywords by smoothed tf-idf (sklearn's idf: ln((N+1)/(df+1))
# + 1 — never negative, never divides by zero). Scale shape: per-doc term
# frequencies come from ONE narrow array-HOF projection (distinct tokens
# counted in-array, so the exploded (doc, term, tf) rows are already
# unique — no corpus-wide groupBy(doc, term) shuffle); document frequency
# is one partial-agg groupBy(term); the join back is 1:1 per term row; the
# top-k cut ranks on the ROUNDED score (6 dp) so cross-engine last-ulp ln
# differences can never flip a rank, and row_number <= k triggers the
# WindowGroupLimit map-side pre-trim.

_TFIDF_K = 5  # keywords per document


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
),
words AS (SELECT doc_id, UNNEST(t) AS term FROM toks),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         ROUND(CAST(t.tf AS DOUBLE)
               * (ln((CAST(n.n_docs AS DOUBLE) + 1.0)
                     / (CAST(d.df AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= {_TFIDF_K}
ORDER BY doc_id, tfidf DESC, term
"""


def tfidf_keywords(docs: DataFrame, k: int = _TFIDF_K) -> DataFrame:
    """(doc_id, term, tf, df, tfidf): the ``k`` highest-tf-idf terms per
    document — see the section note for the shuffle budget."""
    from pyspark.sql import Window

    from .dedup import _spread_rows

    # the O(distinct·n) in-array tf count is row-wise-heavy: spread past a
    # one-row-group scan partitioning (no-op on a many-split corpus)
    docs = _spread_rows(docs)
    t = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # r19: (term, tf) pairs via run-length encoding over a SORTED copy —
    # O(n log n) sort + O(n) boundary scan, replacing the O(distinct·n)
    # per-distinct-term array filter (quadratic on high-TTR docs). Run
    # starts are positions whose token differs from the previous one; each
    # run's tf is the distance to the next start. Same (term, tf) set —
    # the downstream groupBy/joins are order-independent.
    starts = F.filter(
        F.sequence(F.lit(0), F.size("_s") - 1),
        lambda i: (i == 0) | (F.element_at("_s", i + 1) != F.element_at("_s", i)),
    )
    ends = F.concat(
        F.slice(F.col("_b"), 2, F.size("_b") - 1), F.array(F.size("_s"))
    )
    per_term = F.zip_with(
        F.col("_b"),
        ends,
        lambda s, e: F.struct(
            F.element_at("_s", s + 1).alias("term"), (e - s).cast("bigint").alias("tf")
        ),
    )
    tf = (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", F.array_sort("t").alias("_s"))
        .select("doc_id", "_s", starts.alias("_b"))
        .select("doc_id", F.explode(per_term).alias("p"))
        .select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs").cast("double") + F.lit(1.0))
                        / (F.col("df").cast("double") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@query("retrieval_tfidf_keywords", oracle=_TFIDF_SQL, defer=True)
def retrieval_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf keywords per document (smoothed sklearn idf) — the
    unsupervised keyword/topic-tag stage of a data card or retrieval
    pipeline, ranked on the rounded score so the cut is engine-exact."""
    return tfidf_keywords(_docs(spark, sf_dir))


# --- MMR: maximal marginal relevance re-rank (r14) ---------------------------
#
# Relevance-only top-k returns near-duplicates of the best hit; MMR
# (Carbonell & Goldstein 1998) greedily picks
#   argmax_i  λ·rel(i) − (1−λ)·max_{j∈selected} sim(i, j)
# trading relevance against redundancy — the standard diversification
# pass RAG retrieval runs over its candidate pool. The greedy argmax is
# inherently ITERATIVE (each pick changes every remaining score), so
# this is a custom-operator tier-b implementation (SURVEY §7.3): the
# per-query candidate pool is top-N-bounded KB data, grouped
# applyInPandas runs the numpy greedy per query — the ONLY shuffle is
# the groupBy(query_id) of pools, the corpus is never touched.
#
# Determinism: candidates enter in doc_id order; relevance is min-max
# normalized per pool (constant pools → 0.5); cosine over L2-normalized
# vectors; np.argmax takes the FIRST max, i.e. ties break to the
# smallest doc_id; identical float ops on identical inputs in every run
# → bit-stable output (pytest pins a pure-Python replay + partition
# invariance). Rows-only by design: an iterative data-dependent greedy
# has no SQL twin (same class as BPE's merge loop).

MMR_SCHEMA = (
    "query_id bigint, rank int, doc_id bigint, rel double, mmr_score double"
)


def mmr_rerank(
    cands: DataFrame,
    vecs: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    rel_col: str = "rel",
) -> DataFrame:
    """(query_id, rank, doc_id, rel, mmr_score): per-query greedy MMR
    selection of ``k`` docs from the candidate pool. ``cands`` =
    (query_id, doc_id, <rel_col>); ``vecs`` = (doc_id, embedding) — only
    candidate docs' vectors are joined in (left join; a candidate with
    no vector gets similarity 0 to everything, i.e. pure relevance)."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    pool = cands.select(
        "query_id", "doc_id", F.col(rel_col).cast("double").alias("rel")
    ).join(vecs.select("doc_id", "embedding"), "doc_id", "left")

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        n = len(pdf)
        dim = next((len(v) for v in pdf["embedding"] if v is not None), 1)
        V = np.stack(
            [
                np.asarray(v, dtype=np.float64)
                if v is not None
                else np.zeros(dim, dtype=np.float64)
                for v in pdf["embedding"]
            ]
        )
        norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
        V = np.divide(V, norms, out=np.zeros_like(V), where=norms > 0.0)
        sims = V @ V.T
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        lo, hi = rel.min(), rel.max()
        rel_n = (rel - lo) / (hi - lo) if hi > lo else np.full(n, 0.5)
        selected: list[int] = []
        out = []
        alive = np.ones(n, dtype=bool)
        for step in range(min(k, n)):
            if selected:
                red = sims[:, selected].max(axis=1)
            else:
                red = np.zeros(n)
            score = lam * rel_n - (1.0 - lam) * red
            score[~alive] = -np.inf
            i = int(np.argmax(score))  # first max → smallest doc_id on ties
            alive[i] = False
            selected.append(i)
            out.append(
                (
                    int(pdf["query_id"].iloc[i]),
                    step + 1,
                    int(pdf["doc_id"].iloc[i]),
                    float(pdf["rel"].iloc[i]),
                    round(float(score[i]), 6),
                )
            )
        return pd.DataFrame(
            out, columns=["query_id", "rank", "doc_id", "rel", "mmr_score"]
        )

    return (
        pool.groupBy("query_id")
        .applyInPandas(greedy, MMR_SCHEMA)
        .orderBy("query_id", "rank")
    )


@query("retrieval_mmr_rerank", oracle=None)  # rows-only: sorts after the
# oracle-backed window on its own (the contract reserves defer=True for
# oracle-backed keys — a deferred key without an oracle would read as
# silently unverified)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 over the BM25 top-50 pool (fixed query,
    λ = 0.7), redundancy measured by cosine over the engine-generated
    hashed-trick embeddings — retrieval, vectors, and diversification
    composed inside one engine. Rows-only by design (iterative greedy;
    pure-Python-replay + diversification pytests in
    tests/test_retrieval_mmr.py)."""
    from .hashembed import hash_embeddings

    docs = _docs(spark, sf_dir)
    cands = bm25_topk(docs).select(
        F.lit(0).cast("bigint").alias("query_id"), "doc_id", F.col("bm25").alias("rel")
    )
    cand_docs = docs.join(cands.select("doc_id"), "doc_id", "left_semi")
    vecs = hash_embeddings(cand_docs)
    return mmr_rerank(cands, vecs, k=10, lam=0.7)


# --- Dirichlet query likelihood (r18) ------------------------------------------
#
# The language-modeling retrieval baseline (Ponte & Croft 1998; Zhai &
# Lafferty 2001 Dirichlet smoothing): score(q, d) = Σ_t ln((tf_td + μ·p_t)
# / (dl_d + μ)) with p_t the collection unigram probability. BM25's
# standard sparring partner — ranking-eval reports quote both, and the
# two disagree exactly where document-length normalization matters, so a
# corpus-quality dashboard wants the pair. Same physical shape as
# ``bm25_topk``: per-term tf as array-filter projections (one corpus
# scan, no explode), collection stats as ONE broadcast aggregate row,
# ordered-LIMIT cut (TakeOrderedAndProject). The per-doc score sums a
# FIXED term order (query-term index), so the doubles are deterministic
# cross-engine before the defensive 6-dp round — the bm25 discipline.

_QL_MU = 2000.0  # Dirichlet smoothing mass (Zhai & Lafferty's default)


def query_likelihood_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = _BM25_TERMS,
    k: int = _BM25_K,
    mu: float = _QL_MU,
) -> DataFrame:
    """(doc_id, ql) top-k Dirichlet query-likelihood scores for
    ``terms`` (natural-log scale; higher = better)."""
    toks = tokens_col(F.col("text"))
    freq = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, lambda x: F.lower(x) == F.lit(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = F.broadcast(
        freq.agg(
            F.sum("dl").cast("bigint").alias("c_len"),
            *[
                F.sum(f"tf_{i}").cast("bigint").alias(f"cf_{i}")
                for i in range(len(terms))
            ],
        )
    )
    scored = freq.crossJoin(stats)
    parts = []
    for i in range(len(terms)):
        p_t = F.col(f"cf_{i}").cast("double") / F.col("c_len").cast("double")
        parts.append(
            F.log(
                (F.col(f"tf_{i}").cast("double") + F.lit(mu) * p_t)
                / (F.col("dl").cast("double") + F.lit(mu))
            )
        )
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    # docs where some query term has zero COLLECTION frequency would hit
    # ln(0); smoothing keeps p_t > 0 whenever the term occurs anywhere,
    # and terms absent from the whole corpus zero every score equally —
    # drop them from the sum by requiring cf > 0 (mirrored in SQL)
    guards = [F.col(f"cf_{i}") > 0 for i in range(len(terms))]
    for i, g in enumerate(guards):
        parts[i] = F.when(g, parts[i]).otherwise(F.lit(0.0))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return (
        scored.select("doc_id", F.round(score, 6).alias("ql"))
        .orderBy(F.desc("ql"), F.asc("doc_id"))
        .limit(k)
    )


def _ql_sql(terms: tuple[str, ...], k: int, mu: float) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter({SQL_TOKENS}, x -> lower(x) = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    cf_cols = ", ".join(
        f"CAST(SUM(tf_{i}) AS BIGINT) AS cf_{i}" for i in range(len(terms))
    )
    parts = " + ".join(
        f"(CASE WHEN s.cf_{i} > 0 THEN ln((CAST(f.tf_{i} AS DOUBLE) + {mu} * "
        f"(CAST(s.cf_{i} AS DOUBLE) / CAST(s.c_len AS DOUBLE)))"
        f" / (CAST(f.dl AS DOUBLE) + {mu})) ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH freq AS (
  SELECT doc_id, len({SQL_TOKENS}) AS dl,
         {tf_cols}
  FROM documents
),
stats AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS c_len, {cf_cols} FROM freq
)
SELECT f.doc_id, ROUND({parts}, 6) AS ql
FROM freq f, stats s
ORDER BY ql DESC, doc_id
LIMIT {k}
"""


@query(
    "retrieval_query_likelihood",
    oracle=_ql_sql(_BM25_TERMS, _BM25_K, _QL_MU),
    defer=True,
)
def retrieval_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by Dirichlet-smoothed query likelihood for the
    fixed query (spark, join, vector) — the LM retrieval baseline beside
    BM25 (same scan shape, one broadcast stats row, ordered-LIMIT cut).
    DuckDB replays the tf projections, the smoothing, and the cut."""
    return query_likelihood_topk(_docs(spark, sf_dir))

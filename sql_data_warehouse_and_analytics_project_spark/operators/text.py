"""Text-analysis operators over the ``documents`` table.

LLM-training-data pipeline primitives (no reference counterpart — the
north-star extension per BASELINE.json): token statistics, quality scoring,
language identification, and document fingerprinting. All are pure
``pyspark.sql.functions`` column expressions (JVM-side, whole-stage codegen,
no Python UDFs) so they scan-scale linearly to 100 TB: each is a single
narrow projection over the documents scan with no shuffle at all except the
final ORDER BY for display.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import checkpoint
from ..registry import query
from ..sources import tpch


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.load(spark, sf_dir, "documents")


# --- tokenization ----------------------------------------------------------


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), r"\s+")


SQL_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"


def normalize_content(text: Column) -> Column:
    """Canonical content normalization — lowercase, trim, collapse
    whitespace — the ONE definition shared by exact dedup, fingerprinting
    and the curation pipeline (SQL twin: :data:`SQL_NORM`)."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


SQL_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

# Deterministic held-out eval slice (stand-in for an external benchmark
# table): one definition shared by decontamination and curation so the
# dropped slice can never drift from the flagged slice.
EVAL_SLICE_MOD = 100


def is_eval_doc(doc_id: Column) -> Column:
    return doc_id % EVAL_SLICE_MOD == 0


_TOKEN_STATS_SQL = f"""
SELECT doc_id, lang, source,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({SQL_TOKENS})) AS BIGINT) AS n_distinct_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / CAST(len({SQL_TOKENS}) AS DOUBLE) AS avg_token_len
FROM documents
ORDER BY doc_id
"""


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, average token
    length — the basic budget/length metrics of a training-data pipeline."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks).cast("double")
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


_QUALITY_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / length(text) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / length(text) AS digit_ratio,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         CAST(len(list_distinct({SQL_TOKENS})) AS DOUBLE)
           / len({SQL_TOKENS}) AS ttr
  FROM documents
)
SELECT doc_id, lang, n_chars, n_tokens, alpha_ratio, digit_ratio, punct_ratio, ttr,
       CASE WHEN n_tokens >= 20 AND alpha_ratio > 0.6 AND ttr > 0.2 THEN 'high'
            WHEN n_tokens >= 10 AND alpha_ratio > 0.4 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM scored
ORDER BY doc_id
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring: character-class ratios +
    type-token ratio, bucketed into high/medium/low — the classic
    pre-training filter (C4/Gopher-style length & symbol heuristics)."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    n_chars = F.length("text")

    def class_ratio(pattern: str) -> Column:
        return F.length(F.regexp_replace(F.col("text"), pattern, "")).cast("double") / n_chars

    scored = docs.select(
        "doc_id",
        "lang",
        n_chars.cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        class_ratio(r"[^a-zA-Z]").alias("alpha_ratio"),
        class_ratio(r"[^0-9]").alias("digit_ratio"),
        class_ratio(r"[^.!?,;:]").alias("punct_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )
    return scored.select(
        "*",
        F.when(
            (F.col("n_tokens") >= 20) & (F.col("alpha_ratio") > 0.6) & (F.col("ttr") > 0.2), "high"
        )
        .when((F.col("n_tokens") >= 10) & (F.col("alpha_ratio") > 0.4), "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    ).orderBy("doc_id")


# --- language id -----------------------------------------------------------

# tiny per-language stopword marker lists for the n-gram/stopword-voting
# heuristic; padded-space matching approximates word boundaries
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " die ", " und ", " ist "],
    "fr": [" le ", " la ", " et ", " est "],
    "es": [" el ", " los ", " y ", " es "],
}


def _occurrences(padded: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of ``needle`` via length-delta —
    pure string ops, identical semantics in every engine."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def _sql_occurrences(padded: str, needle: str) -> str:
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{needle}', ''))) / {len(needle)} AS BIGINT)"
    )


def _lang_scores_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    terms = []
    for lang, markers in _LANG_MARKERS.items():
        total = " + ".join(_sql_occurrences(padded, m) for m in markers)
        terms.append(f"({total}) AS score_{lang}")
    return ",\n         ".join(terms)


_LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_scores_sql()}
  FROM documents
)
SELECT doc_id, lang AS actual_lang,
       CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es
                 AND score_en > 0 THEN 'en'
            WHEN score_de >= score_fr AND score_de >= score_es AND score_de > 0 THEN 'de'
            WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
            WHEN score_es > 0 THEN 'es'
            ELSE 'unknown' END AS predicted_lang,
       score_en, score_de, score_fr, score_es
FROM scored
ORDER BY doc_id
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via stopword-marker voting (n-gram heuristic):
    count per-language marker occurrences, argmax with a deterministic
    priority chain. The synthetic corpus is English-vocab throughout, so
    accuracy against the label is incidental — the operator (vectorized
    string scoring + argmax decode) is what's exercised."""
    docs = _docs(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    score_cols = {}
    for lang, markers in _LANG_MARKERS.items():
        total = _occurrences(padded, markers[0])
        for m in markers[1:]:
            total = total + _occurrences(padded, m)
        score_cols[lang] = total
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[c.alias(f"score_{lang}") for lang, c in score_cols.items()],
    )
    se, sd, sf_, ss = (F.col(f"score_{x}") for x in ("en", "de", "fr", "es"))
    predicted = (
        F.when((se >= sd) & (se >= sf_) & (se >= ss) & (se > 0), "en")
        .when((sd >= sf_) & (sd >= ss) & (sd > 0), "de")
        .when((sf_ >= ss) & (sf_ > 0), "fr")
        .when(ss > 0, "es")
        .otherwise("unknown")
    )
    return scored.select(
        "doc_id",
        "actual_lang",
        predicted.alias("predicted_lang"),
        "score_en",
        "score_de",
        "score_fr",
        "score_es",
    ).orderBy("doc_id")


# --- fingerprinting --------------------------------------------------------

_FINGERPRINT_SQL = """
SELECT doc_id,
       sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS doc_fingerprint,
       substr(sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS shard_key
FROM documents
ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized document fingerprint: lowercase, collapse whitespace,
    SHA-256 — the content-addressed identity used by exact dedup and
    incremental re-crawl skip logic. shard_key prefix doubles as a uniform
    partitioner at scale."""
    docs = _docs(spark, sf_dir)
    normalized = normalize_content(F.col("text"))
    fp = F.sha2(normalized, 256)
    return docs.select(
        "doc_id",
        fp.alias("doc_fingerprint"),
        F.substring(fp, 1, 16).alias("shard_key"),
    ).orderBy("doc_id")


# --- composite: the whole text-analysis tier in ONE scan --------------------

# BPE-ish pre-tokenizer (GPT-2-style splitting simplified to the portable
# RE2/Java-regex intersection: letter runs, single digits, single
# non-alphanumeric symbols; whitespace is not a token). A training-data
# budget counted this way tracks subword-tokenizer counts far better than
# whitespace words on code/punctuation-heavy text.
# whitespace class spelled out: Java's \s includes \x0B but RE2's does not,
# so \s itself is NOT in the portable intersection — this explicit class is
_BPE_WS = r" \t\n\x0B\f\r"
_BPE_RE = rf"[A-Za-z]+|[0-9]|[^A-Za-z0-9{_BPE_WS}]"
_SQL_BPE_COUNT = f"CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)"

_PROFILE_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
         {_SQL_BPE_COUNT} AS n_bpe_tokens,
         CAST(len(list_distinct({SQL_TOKENS})) AS BIGINT) AS n_distinct_tokens,
         CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / CAST(len({SQL_TOKENS}) AS DOUBLE) AS avg_token_len,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / length(text) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / length(text) AS digit_ratio,
         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         CAST(len(list_distinct({SQL_TOKENS})) AS DOUBLE)
           / len({SQL_TOKENS}) AS ttr,
         {_lang_scores_sql()},
         sha256({SQL_NORM}) AS doc_fingerprint
  FROM documents
)
SELECT doc_id, lang, source, n_chars, n_tokens, n_bpe_tokens, n_distinct_tokens,
       avg_token_len, alpha_ratio, digit_ratio, punct_ratio, ttr,
       CASE WHEN n_tokens >= 20 AND alpha_ratio > 0.6 AND ttr > 0.2 THEN 'high'
            WHEN n_tokens >= 10 AND alpha_ratio > 0.4 THEN 'medium'
            ELSE 'low' END AS quality_bucket,
       CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es
                 AND score_en > 0 THEN 'en'
            WHEN score_de >= score_fr AND score_de >= score_es AND score_de > 0 THEN 'de'
            WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
            WHEN score_es > 0 THEN 'es'
            ELSE 'unknown' END AS predicted_lang,
       score_en, score_de, score_fr, score_es,
       doc_fingerprint,
       substr(doc_fingerprint, 1, 16) AS shard_key
FROM scored
ORDER BY doc_id
"""


@query("text_profile", oracle=_PROFILE_SQL, defer=True)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis tier — token stats, quality scoring, language
    ID, and fingerprinting — as ONE narrow projection over one documents
    scan (the individual builders above remain importable; registering the
    fused pass gives the whole tier a single driver CORRECTNESS row and is
    also the shape you want at 100 TB: one scan, zero shuffles, all columns
    computed in a single whole-stage-codegen span)."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    n_chars = F.length("text")

    def class_ratio(pattern: str) -> Column:
        return F.length(F.regexp_replace(F.col("text"), pattern, "")).cast("double") / n_chars

    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    score_cols = {}
    for lang, markers in _LANG_MARKERS.items():
        total = _occurrences(padded, markers[0])
        for m in markers[1:]:
            total = total + _occurrences(padded, m)
        score_cols[lang] = total
    fp = F.sha2(normalize_content(F.col("text")), 256)

    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        n_chars.cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_RE)).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks).cast("double")
        ).alias("avg_token_len"),
        class_ratio(r"[^a-zA-Z]").alias("alpha_ratio"),
        class_ratio(r"[^0-9]").alias("digit_ratio"),
        class_ratio(r"[^.!?,;:]").alias("punct_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        *[c.alias(f"score_{lang}") for lang, c in score_cols.items()],
        fp.alias("doc_fingerprint"),
    )
    se, sd, sf_, ss = (F.col(f"score_{x}") for x in ("en", "de", "fr", "es"))
    predicted = (
        F.when((se >= sd) & (se >= sf_) & (se >= ss) & (se > 0), "en")
        .when((sd >= sf_) & (sd >= ss) & (sd > 0), "de")
        .when((sf_ >= ss) & (sf_ > 0), "fr")
        .when(ss > 0, "es")
        .otherwise("unknown")
    )
    return scored.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "n_distinct_tokens",
        "avg_token_len",
        "alpha_ratio",
        "digit_ratio",
        "punct_ratio",
        "ttr",
        F.when(
            (F.col("n_tokens") >= 20) & (F.col("alpha_ratio") > 0.6) & (F.col("ttr") > 0.2), "high"
        )
        .when((F.col("n_tokens") >= 10) & (F.col("alpha_ratio") > 0.4), "medium")
        .otherwise("low")
        .alias("quality_bucket"),
        predicted.alias("predicted_lang"),
        "score_en",
        "score_de",
        "score_fr",
        "score_es",
        "doc_fingerprint",
        F.substring("doc_fingerprint", 1, 16).alias("shard_key"),
    ).orderBy("doc_id")


# --- Gopher-style repetition filter (r4) -----------------------------------
#
# The repetition signals of Rae et al. 2021 ("Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1) adapted
# to this corpus's single-line documents: type-token ratio, most-frequent-
# word mass, and duplicate-2-gram mass. Pure array HOFs — a single narrow
# projection per doc, no shuffle, scan-scales to 100 TB like text_profile.

_GOPHER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
words AS (SELECT doc_id, unnest(t) AS w FROM toks),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
         CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac
  FROM wc GROUP BY doc_id
),
bi AS (
  SELECT doc_id,
         CAST(len(t) - 1 - len(list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) AS DOUBLE)
           / CAST(len(t) - 1 AS DOUBLE) AS dup_bigram_frac
  FROM toks WHERE len(t) >= 2
)
SELECT p.doc_id, p.n_tokens, p.ttr, p.top_word_frac, b.dup_bigram_frac,
       (p.ttr >= 0.35 AND p.top_word_frac <= 0.12 AND b.dup_bigram_frac <= 0.06) AS keep
FROM per_doc p JOIN bi b USING (doc_id)
ORDER BY doc_id
"""


@query("text_quality_gopher", oracle=_GOPHER_SQL, defer=True)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-doc type-token ratio, top-word
    mass, duplicate-2-gram mass, and the keep/drop verdict.

    Every metric is an exact integer ratio (IEEE division of exact counts,
    bit-identical cross-engine). top word count is an O(distinct·n) nested
    HOF — bounded by document length, never a shuffle; duplicate-bigram
    mass is (total − distinct)/total over the bigram array."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    base = docs.filter(F.size(toks) >= 2).select("doc_id", toks.alias("t"))
    n = F.size("t")
    # top-word count as ONE run-length fold over a sorted copy — O(n log n)
    # sort + O(n) fold, replacing the r4 nested HOF (count each distinct
    # token by filtering the whole array: O(distinct·n), quadratic on
    # high-TTR docs). max multiplicity == longest equal-run in the sorted
    # array. The "" sentinel is safe even when "" IS a token (tab-led
    # text survives trim): run starts at 0, so the first element yields
    # run 1 through either branch. Bit-identity pinned in
    # tests/test_training_data_ops.py.
    run_next = lambda acc, x: (
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
    )
    top_cnt = F.aggregate(
        F.array_sort("t"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run_next(acc, x).alias("run"),
            F.greatest(acc["best"], run_next(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, 2)),
    )
    n_bi = (n - 1).cast("double")
    dup_bi = (n_bi - F.size(F.array_distinct(bigrams)).cast("double")) / n_bi
    scored = base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct("t")).cast("double") / n.cast("double")).alias("ttr"),
        (top_cnt.cast("double") / n.cast("double")).alias("top_word_frac"),
        dup_bi.alias("dup_bigram_frac"),
    )
    return scored.select(
        "*",
        (
            (F.col("ttr") >= 0.35)
            & (F.col("top_word_frac") <= 0.12)
            & (F.col("dup_bigram_frac") <= 0.06)
        ).alias("keep"),
    ).orderBy("doc_id")


# --- benchmark decontamination (r4) ----------------------------------------
#
# Training-data decontamination: flag training documents that share a word
# 4-gram with a held-out benchmark/eval set (the n-gram-overlap procedure of
# GPT-3's appendix C, scaled down to this corpus's doc lengths). The eval
# set here is the deterministic doc_id % 100 == 0 slice — standing in for
# an external benchmark table. Scale design: eval sets are tiny (MBs) at
# any corpus scale, so the eval n-gram side BROADCASTS — the 100 TB corpus
# side is a single scan + broadcast semi-probe with NO shuffle of corpus
# n-grams; the per-doc hit count is the only (tiny, post-filter) shuffle.

_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
  FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 4
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_SLICE_MOD} = 0)
SELECT g.doc_id, CAST(COUNT(DISTINCT g.g) AS BIGINT) AS n_contaminated_ngrams
FROM grams g
JOIN bench b ON g.g = b.g
WHERE g.doc_id % {EVAL_SLICE_MOD} <> 0
GROUP BY g.doc_id
ORDER BY doc_id
"""


@query("text_decontaminate", oracle=_DECONTAM_SQL, headline=True, defer=True)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 4-gram decontamination: training docs sharing any word
    4-gram with the eval slice (doc_id % 100 == 0), with hit counts."""
    docs = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    grams4 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("t")) - 4),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, 4)),
        )
    )
    # r19: the old ``filter(size(toks) >= 4)`` existed only to keep the
    # gram ``sequence`` from stepping backward on short docs, but the
    # pushed-down Filter re-tokenized every row (alias substitution).
    # Guarding the gram array with ``when(... >= 4)`` instead lets the
    # explode drop short docs for free — identical rows out, ONE tokenize
    # per row instead of two.
    grams4_guarded = F.when(F.size(F.col("t")) >= 4, grams4).otherwise(
        F.array().cast("array<string>")
    )
    base = docs.select("doc_id", toks.alias("t")).select(
        "doc_id", F.explode(grams4_guarded).alias("g")
    )
    bench = base.filter(is_eval_doc(F.col("doc_id"))).select("g").distinct()
    return (
        base.filter(~is_eval_doc(F.col("doc_id")))
        .join(F.broadcast(bench), "g", "inner")
        .groupBy("doc_id")
        # plain count, not count_distinct: grams4 is array_distinct per doc,
        # so (doc_id, g) rows are already unique — a distinct-agg would add
        # a second shuffle for nothing
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
        .orderBy("doc_id")
    )


# --- PII scrub (r4) ---------------------------------------------------------
#
# Standard training-data redaction stage: find + replace emails/phone
# numbers with typed placeholder tokens. The corpus carries no real PII, so
# the query PLANTS deterministic synthetic PII (derived from doc_id) before
# scrubbing — the scrub path (regexes, replacement, residual check) is the
# real production transform, exercised end to end and hash-checked against
# DuckDB. Pure regexp projections: zero shuffle except the display sort.

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_CC_RE = r"\b\d{16}\b"


def _sql_luhn_sum(expr: str, n: int) -> str:
    """Unrolled Luhn sum over the first ``n`` digits of ``expr`` (ANSI SQL,
    no lambdas needed): digit i (1-based, odd i = even position from the
    right in a 16-digit number) is doubled and digit-collapsed. Unrolling
    keeps the expression identical — and cheap — in both engines."""
    terms = []
    for i in range(1, n + 1):
        d = f"substr({expr}, {i}, 1)::BIGINT"
        if i % 2 == 1:
            terms.append(f"(2*{d} - CASE WHEN {d} > 4 THEN 9 ELSE 0 END)")
        else:
            terms.append(d)
    return "(" + " + ".join(terms) + ")"


def _luhn_sum_col(c: Column, n: int) -> Column:
    """Spark twin of :func:`_sql_luhn_sum` — a pure built-in expression
    (substring/cast/when chain), zero UDF."""
    total: Column = F.lit(0)
    for i in range(1, n + 1):
        d = F.substring(c, i, 1).cast("int")
        if i % 2 == 1:
            total = total + (d * 2 - F.when(d > 4, F.lit(9)).otherwise(F.lit(0)))
        else:
            total = total + d
    return total


_PII_SQL = f"""
WITH cards AS (
  SELECT doc_id,
         '453201' || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 9, '0') AS base15
  FROM documents
),
cards2 AS (
  SELECT doc_id, base15,
         (10 - {_sql_luhn_sum("base15", 15)} % 10) % 10 AS chk
  FROM cards
),
planted AS (
  SELECT d.doc_id, d.lang,
         d.text
         || CASE WHEN d.doc_id % 7 = 0
                 THEN ' contact user' || d.doc_id || '@example.com' ELSE '' END
         || CASE WHEN d.doc_id % 11 = 0
                 THEN ' call 555-010-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN d.doc_id % 13 = 0
                 THEN ' ssn 078-05-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN d.doc_id % 17 = 0
                 THEN ' from 10.' || CAST(d.doc_id % 256 AS VARCHAR)
                      || '.' || CAST(d.doc_id % 256 AS VARCHAR)
                      || '.' || CAST(1 + d.doc_id % 254 AS VARCHAR) ELSE '' END
         || CASE WHEN d.doc_id % 19 = 0
                 THEN ' card ' || c.base15 || CAST(c.chk AS VARCHAR) ELSE '' END
         || CASE WHEN d.doc_id % 23 = 0
                 THEN ' card ' || c.base15 || CAST((c.chk + 5) % 10 AS VARCHAR) ELSE '' END
         AS text
  FROM documents d JOIN cards2 c ON d.doc_id = c.doc_id
),
scrubbed AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(text, '{_SSN_RE}')) AS BIGINT) AS n_ssns,
         CAST(len(regexp_extract_all(text, '{_IPV4_RE}')) AS BIGINT) AS n_ips,
         CAST(len(list_filter(regexp_extract_all(text, '{_CC_RE}'),
                              x -> {_sql_luhn_sum("x", 16)} % 10 = 0)) AS BIGINT) AS n_cards,
         CAST(len(regexp_extract_all(text, '{_CC_RE}'))
              - len(list_filter(regexp_extract_all(text, '{_CC_RE}'),
                                x -> {_sql_luhn_sum("x", 16)} % 10 = 0)) AS BIGINT)
           AS n_cards_rejected,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g'),
             '{_SSN_RE}', '[SSN]', 'g'),
             '{_IPV4_RE}', '[IP]', 'g'),
             '{_CC_RE}', '[CARD]', 'g') AS clean_text
  FROM planted
)
SELECT doc_id, lang, n_emails, n_phones, n_ssns, n_ips, n_cards, n_cards_rejected,
       CAST(length(clean_text) AS BIGINT) AS clean_len,
       (len(regexp_extract_all(clean_text, '{_EMAIL_RE}')) = 0
        AND len(regexp_extract_all(clean_text, '{_PHONE_RE}')) = 0
        AND len(regexp_extract_all(clean_text, '{_SSN_RE}')) = 0
        AND len(regexp_extract_all(clean_text, '{_IPV4_RE}')) = 0
        AND len(regexp_extract_all(clean_text, '{_CC_RE}')) = 0) AS residual_free
FROM scrubbed
WHERE n_emails + n_phones + n_ssns + n_ips + n_cards + n_cards_rejected > 0
ORDER BY doc_id
"""


@query("text_pii_scrub", oracle=_PII_SQL, defer=True)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over six detector classes: email, US phone, SSN, IPv4,
    and 16-digit card numbers split into Luhn-VALID (n_cards) vs Luhn-
    REJECTED (n_cards_rejected) — the checksum runs as an unrolled
    built-in expression inside a higher-order ``filter`` over the regex
    matches, zero Python UDFs. Planted PII is deterministic (derived from
    doc_id, including a valid and a corrupted card per residue class) so
    DuckDB replays detection, the Luhn split, scrubbing, and the
    residual-free proof bit-for-bit. Scrubbing replaces every card-LIKE
    run conservatively; the Luhn split powers the typed counts a curation
    report needs. Pure regexp/HOF projections: zero shuffle except the
    display sort."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    base15 = F.concat(F.lit("453201"), F.lpad((d % 1000000000).cast("string"), 9, "0"))
    chk = (F.lit(10) - (_luhn_sum_col(base15, 15) % 10)) % 10
    planted = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(
                    F.lit(" call 555-010-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 13 == 0,
                F.concat(F.lit(" ssn 078-05-"), F.lpad((d % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                d % 17 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (d % 256).cast("string"),
                    F.lit("."),
                    (d % 256).cast("string"),
                    F.lit("."),
                    (1 + d % 254).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 19 == 0, F.concat(F.lit(" card "), base15, chk.cast("string"))
            ).otherwise(F.lit("")),
            F.when(
                d % 23 == 0,
                F.concat(F.lit(" card "), base15, ((chk + 5) % 10).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    cc_cands = F.regexp_extract_all(F.col("text"), F.lit(_CC_RE), F.lit(0))
    n_cards = F.size(F.filter(cc_cands, lambda x: _luhn_sum_col(x, 16) % 10 == 0))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
                    _PHONE_RE,
                    "[PHONE]",
                ),
                _SSN_RE,
                "[SSN]",
            ),
            _IPV4_RE,
            "[IP]",
        ),
        _CC_RE,
        "[CARD]",
    )
    scrubbed = planted.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(_SSN_RE)).cast("bigint").alias("n_ssns"),
        F.regexp_count(F.col("text"), F.lit(_IPV4_RE)).cast("bigint").alias("n_ips"),
        n_cards.cast("bigint").alias("n_cards"),
        (F.size(cc_cands) - n_cards).cast("bigint").alias("n_cards_rejected"),
        clean.alias("clean_text"),
    )
    residual = (
        (F.regexp_count(F.col("clean_text"), F.lit(_EMAIL_RE)) == 0)
        & (F.regexp_count(F.col("clean_text"), F.lit(_PHONE_RE)) == 0)
        & (F.regexp_count(F.col("clean_text"), F.lit(_SSN_RE)) == 0)
        & (F.regexp_count(F.col("clean_text"), F.lit(_IPV4_RE)) == 0)
        & (F.regexp_count(F.col("clean_text"), F.lit(_CC_RE)) == 0)
    )
    return (
        scrubbed.filter(
            F.col("n_emails")
            + F.col("n_phones")
            + F.col("n_ssns")
            + F.col("n_ips")
            + F.col("n_cards")
            + F.col("n_cards_rejected")
            > 0
        )
        .select(
            "doc_id",
            "lang",
            "n_emails",
            "n_phones",
            "n_ssns",
            "n_ips",
            "n_cards",
            "n_cards_rejected",
            F.length("clean_text").cast("bigint").alias("clean_len"),
            residual.alias("residual_free"),
        )
        .orderBy("doc_id")
    )


# --- Unigram LM quality score ----------------------------------------------
#
# The KenLM-lite quality signal every pretraining pipeline runs: score each
# document by its average per-token log-probability under a corpus-trained
# unigram model — gibberish and boilerplate-free natural text separate
# cleanly on this axis, and the score is the standard input to
# perplexity-bucketed filtering. Scale shape: the model is the top-V
# term-frequency table (ONE partial-aggregating groupBy + ordered LIMIT);
# the per-doc score is then a PURE PROJECTION — a sequential fold over the
# token array — so scoring adds zero shuffles to the corpus scan. Two
# physical forms of the model (see unigram_logprob): a driver-side map
# literal (V rows collected; logs via driver libm, matching the oracle's
# DuckDB libm bit-for-bit) and, past _LM_BROADCAST_CUTOVER, a JVM-built
# one-row map frame broadcast onto the corpus (no collect anywhere; logs
# via JVM libm, ≤1 ULP off driver libm — invisible at the 6-dp output
# surface). Both strategies fold per-token contributions in TOKEN ORDER,
# so the float result is partition-order-exact before the defensive 6-dp
# round.

_LM_VOCAB = 256  # top-V unigram model
_LM_OOV_NUM = 0.5  # OOV floor numerator: p_oov = 0.5 / n_total
# past this vocab size the model auto-switches from the driver-side literal
# map to the broadcast-join strategy (JVM-built 1-row map frame, no collect)
_LM_BROADCAST_CUTOVER = 100_000

_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_transform({SQL_TOKENS}, x -> lower(x)) AS t FROM documents
),
tot AS (SELECT CAST(SUM(len(t)) AS DOUBLE) AS n_total FROM toks),
vocab AS (
  SELECT term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT UNNEST(t) AS term FROM toks)
  GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT {_LM_VOCAB}
),
m AS (
  SELECT map_from_entries(list((term, ln(tf / (SELECT n_total FROM tot))) ORDER BY term)) AS mp,
         ln({_LM_OOV_NUM} / (SELECT n_total FROM tot)) AS oov
  FROM vocab
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       ROUND(list_reduce(list_transform(t, x -> coalesce(mp[x][1], oov)), (a, b) -> a + b)
             / CAST(len(t) AS DOUBLE), 6) AS avg_logprob
FROM toks CROSS JOIN m
ORDER BY doc_id
"""


def unigram_logprob(
    docs: DataFrame, vocab_size: int = _LM_VOCAB, strategy: str | None = None
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) under a corpus-trained top-``vocab_
    size`` unigram model with an OOV floor of ``_LM_OOV_NUM / n_total``.
    See the module note for the scale shape and the cross-engine float
    discipline (driver-libm logs, token-order fold, 6-dp round).

    Two physical strategies, same semantics:

    - ``"literal"`` — collect the top-V vocab (a KB frame) and bake the
      term→logprob map into the plan as literals; logs via the driver's
      libm so the oracle hash-matches bit-for-bit. Right up to ~100K terms.
    - ``"broadcast"`` — NO driver collect: the vocab aggregates JVM-side
      into a ONE-ROW model frame (``map_from_entries(collect_list(...))``)
      that broadcast-cross-joins onto the corpus; ``element_at`` on the map
      COLUMN keeps the per-token lookup inside the same token-order
      ``F.aggregate`` fold, so the scale path preserves the fold-order
      exactness the literal path pins. Logs come from the JVM's libm, which
      may differ from driver libm by ≤1 ULP per term — invisible on the
      6-dp-rounded output surface (parity-pytested against the literal
      path at two vocab sizes), which is why the oracle stays on the
      literal path.

    ``strategy=None`` auto-selects: literal below
    ``_LM_BROADCAST_CUTOVER``, broadcast above."""
    import math

    if strategy is None:
        strategy = "literal" if vocab_size <= _LM_BROADCAST_CUTOVER else "broadcast"
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    with_t = docs.select("doc_id", toks.alias("t"))
    vocab_df = (
        with_t.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(vocab_size)
    )

    if strategy == "broadcast":
        tot = with_t.agg(F.sum(F.size("t")).cast("double").alias("n_total"))
        # global agg (no groupBy) so the map frame is ALWAYS exactly one
        # row — an empty vocab yields an empty map, not zero rows, keeping
        # the crossJoin from annihilating the corpus (the literal strategy
        # returns per-doc rows for the same degenerate input)
        map_row = (
            vocab_df.crossJoin(F.broadcast(tot))
            .select(
                F.struct(
                    F.col("term"),
                    F.log(F.col("tf").cast("double") / F.col("n_total")).alias("logp"),
                ).alias("e")
            )
            .agg(F.map_from_entries(F.collect_list("e")).alias("mp"))
        )
        model = tot.crossJoin(map_row).select(
            "mp", F.log(F.lit(_LM_OOV_NUM) / F.col("n_total")).alias("oov")
        )
        score = F.aggregate(
            F.col("t"),
            F.lit(0.0),
            lambda acc, x: acc
            + F.coalesce(F.element_at(F.col("mp"), x), F.col("oov")),
        )
        return (
            with_t.crossJoin(F.broadcast(model))
            .select(
                "doc_id",
                F.size("t").cast("bigint").alias("n_tokens"),
                F.round(score / F.size("t").cast("double"), 6).alias("avg_logprob"),
            )
            .orderBy("doc_id")
        )

    n_total = float(with_t.agg(F.sum(F.size("t"))).first()[0] or 0)
    vocab = vocab_df.collect()
    oov = math.log(_LM_OOV_NUM / n_total) if n_total else 0.0
    entries: list = []
    for r in vocab:
        entries.append(F.lit(r["term"]))
        entries.append(F.lit(math.log(r["tf"] / n_total)))
    lookup = (
        (lambda x: F.coalesce(F.element_at(F.create_map(*entries), x), F.lit(oov)))
        if entries
        else (lambda x: F.lit(oov))
    )
    score = F.aggregate(F.col("t"), F.lit(0.0), lambda acc, x: acc + lookup(x))
    return with_t.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.round(score / F.size("t").cast("double"), 6).alias("avg_logprob"),
    ).orderBy("doc_id")


@query("text_unigram_logprob", oracle=_LM_SQL, defer=True)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average per-token unigram log-probability per document — the
    perplexity-style quality score, engine-reproducible to 6 dp."""
    return unigram_logprob(_docs(spark, sf_dir))


# --- Bigram-LM fluency scoring (r11) ---------------------------------------
#
# The conditional upgrade of the unigram score — the shape CCNet-style
# perplexity filters actually use (KenLM is an n-gram model): score each
# document by its average per-token log P(w_i | w_{i-1}) under a
# corpus-trained bigram model. Word order now matters, so shuffled
# boilerplate and keyword-stuffed spam that the unigram model rates as
# fluent separate cleanly. Model recipe (all engine-exact):
#
# - vocabulary: the top-V unigram terms (same (tf DESC, term) order as the
#   unigram model); every corpus token maps to itself or '<unk>' BEFORE
#   counting, and each document is prefixed with '<s>' — so the bigram
#   table is bounded by (V+2)^2 TYPES regardless of corpus size, which is
#   what keeps the model a KB-scale broadcast at 100 TB;
# - probabilities: Laplace smoothing, P(c|p) = (count(p,c)+1) /
#   (ctx(p)+classes) with classes = |vocab|+1 — every pair scores without
#   a backoff model, unseen pairs fall to the per-context floor and
#   never-seen contexts to the uniform floor;
# - scoring: the two model maps (pair → logp, context → floor-logp)
#   aggregate JVM-side into ONE broadcast row (no driver collect anywhere)
#   and the per-doc score is a TOKEN-ORDER fold over the zipped
#   (prev, cur) array — zero shuffles beyond the two narrow model
#   groupBys, partition-order-exact floats, defensive 6-dp round (JVM vs
#   DuckDB libm ln differ ≤1 ULP — invisible at 6 dp, same argument as
#   the unigram broadcast strategy).

_BLM_VOCAB = 256
_BLM_UNK = "<unk>"
_BLM_START = "<s>"
_BLM_SEP = "\x1f"  # unit separator — cannot occur inside whitespace tokens

_BLM_CTES = f"""
WITH toks AS (
  SELECT doc_id, list_transform({SQL_TOKENS}, x -> lower(x)) AS t FROM documents
),
vocab AS (
  SELECT term FROM (SELECT UNNEST(t) AS term FROM toks)
  GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT {_BLM_VOCAB}
),
vset AS (
  SELECT map_from_entries(list((term, 1) ORDER BY term)) AS vm,
         CAST(COUNT(*) + 1 AS DOUBLE) AS classes
  FROM vocab
),
mapped AS (
  SELECT doc_id,
         list_transform(t, x -> CASE WHEN vm[x][1] IS NOT NULL THEN x ELSE '{_BLM_UNK}' END) AS m
  FROM toks CROSS JOIN vset
),
seq AS (
  SELECT doc_id, m, list_prepend('{_BLM_START}', m) AS fseq FROM mapped
),
pairs AS (
  SELECT fseq[i + 1] AS prev, m[i + 1] AS cur
  FROM (SELECT UNNEST(range(len(m))) AS i, fseq, m FROM seq)
),
bgc AS (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c FROM pairs GROUP BY prev, cur),
ctx AS (SELECT prev, CAST(COUNT(*) AS DOUBLE) AS n FROM pairs GROUP BY prev),
model AS (
  SELECT
    (SELECT map_from_entries(list((b.prev || chr(31) || b.cur,
             ln((b.c + 1) / (x.n + (SELECT classes FROM vset)))) ORDER BY b.prev, b.cur))
     FROM bgc b JOIN ctx x ON b.prev = x.prev) AS mpb,
    (SELECT map_from_entries(list((prev, -ln(n + (SELECT classes FROM vset))) ORDER BY prev))
     FROM ctx) AS mpc,
    -ln((SELECT classes FROM vset)) AS fb
)"""

# the per-doc 6-dp score expression, shared by the per-doc query and the
# perplexity-bucket rollup so the two oracles can never drift
_BLM_SCORE = """ROUND(list_reduce(
               [coalesce(mpb[fseq[i + 1] || chr(31) || m[i + 1]][1],
                         mpc[fseq[i + 1]][1], fb) FOR i IN range(len(m))],
               (a, b) -> a + b) / CAST(len(m) AS DOUBLE), 6)"""

_BLM_SQL = (
    _BLM_CTES
    + f"""
SELECT doc_id,
       CAST(len(m) AS BIGINT) AS n_tokens,
       {_BLM_SCORE} AS avg_logprob
FROM seq CROSS JOIN model
ORDER BY doc_id
"""
)


def bigram_logprob(docs: DataFrame, vocab_size: int = _BLM_VOCAB) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) under the corpus-trained bigram
    model — see the module note for the recipe and the scale/float
    discipline. Collect-free: both model maps are JVM-built one-row
    frames broadcast onto the corpus. The per-token map-lookup score fold
    is row-wise-projection-heavy — spread across cores first (r12, see
    dedup._spread_rows: a one-row-group corpus arrives as ONE scan
    partition and would score single-threaded)."""
    from .dedup import _spread_rows

    docs = _spread_rows(docs)
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    with_t = docs.select("doc_id", toks.alias("t"))
    vocab_df = (
        with_t.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(vocab_size)
    )
    vrow = vocab_df.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.lit(1).alias("one")))
        ).alias("vm"),
        (F.count(F.lit(1)) + 1).cast("double").alias("classes"),
    )
    mapped = with_t.crossJoin(F.broadcast(vrow)).select(
        "doc_id",
        F.transform(
            F.col("t"),
            lambda x: F.when(F.element_at(F.col("vm"), x).isNotNull(), x).otherwise(
                F.lit(_BLM_UNK)
            ),
        ).alias("m"),
        "classes",
    )
    full = F.concat(F.array(F.lit(_BLM_START)), F.col("m"))
    seq = mapped.select(
        "doc_id", "m", "classes", F.slice(full, 1, F.size("m")).alias("prevs")
    )
    pairs = seq.select(
        F.explode(
            F.zip_with(
                F.col("prevs"),
                F.col("m"),
                lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
            )
        ).alias("pc")
    ).select(F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur"))
    bgc = pairs.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    ctx = pairs.groupBy("prev").agg(F.count(F.lit(1)).cast("double").alias("n"))
    classes_row = F.broadcast(vrow.select("classes"))
    mpb_row = (
        bgc.join(F.broadcast(ctx), "prev")
        .crossJoin(classes_row)
        .select(
            F.struct(
                F.concat(F.col("prev"), F.lit(_BLM_SEP), F.col("cur")).alias("k"),
                F.log((F.col("c") + 1) / (F.col("n") + F.col("classes"))).alias("lp"),
            ).alias("e")
        )
        .agg(F.map_from_entries(F.collect_list("e")).alias("mpb"))
    )
    mpc_row = (
        ctx.crossJoin(classes_row)
        .select(
            F.struct(
                F.col("prev").alias("k"),
                (-F.log(F.col("n") + F.col("classes"))).alias("lp"),
            ).alias("e")
        )
        .agg(F.map_from_entries(F.collect_list("e")).alias("mpc"))
    )
    model = (
        mpb_row.crossJoin(mpc_row)
        .crossJoin(classes_row)
        .select("mpb", "mpc", (-F.log(F.col("classes"))).alias("fb"))
    )
    zipped = F.zip_with(
        F.col("prevs"),
        F.col("m"),
        lambda p, c: F.struct(
            p.alias("p"), F.concat(p, F.lit(_BLM_SEP), c).alias("k")
        ),
    )
    score = F.aggregate(
        zipped,
        F.lit(0.0),
        lambda acc, s: acc
        + F.coalesce(
            F.element_at(F.col("mpb"), s["k"]),
            F.element_at(F.col("mpc"), s["p"]),
            F.col("fb"),
        ),
    )
    return (
        seq.crossJoin(F.broadcast(model))
        .select(
            "doc_id",
            F.size("m").cast("bigint").alias("n_tokens"),
            F.round(score / F.size("m").cast("double"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@query("text_bigram_logprob", oracle=_BLM_SQL, defer=True)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average per-token bigram conditional log-probability per document —
    the word-order-aware perplexity-style quality score (CCNet-shape
    n-gram filter). Registered deferred per the 50-slot window rule."""
    return bigram_logprob(_docs(spark, sf_dir))


# CCNet's actual corpus-partitioning step: rank every document by the LM
# score and cut the corpus into head/middle/tail TERCILES — head feeds the
# highest-quality training mix, tail is dropped or downsampled. Thresholds
# are exact linear-interpolated percentiles over the 6-dp-rounded scores
# (Spark percentile == DuckDB quantile_cont, thresholds re-rounded to 6 dp
# before comparison per the house convention); the per-bucket mean goes
# through a DECIMAL(18,6) sum — the rounded scores are exactly
# representable, so the mean is partition-order-exact.

_PPL_BUCKETS_SQL = (
    _BLM_CTES
    + f""",
scored AS (
  SELECT doc_id, {_BLM_SCORE} AS avg_logprob
  FROM seq CROSS JOIN model
),
th AS (
  SELECT ROUND(quantile_cont(avg_logprob, 1.0/3), 6) AS t1,
         ROUND(quantile_cont(avg_logprob, 2.0/3), 6) AS t2
  FROM scored
)
SELECT CASE WHEN s.avg_logprob > th.t2 THEN 'head'
            WHEN s.avg_logprob > th.t1 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(s.avg_logprob AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_logprob
FROM scored s CROSS JOIN th
GROUP BY 1
ORDER BY bucket
"""
)


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """(bucket, n_docs, mean_logprob): head/middle/tail terciles of the
    corpus by bigram-LM score — see the note above. One extra tiny agg
    (the two thresholds) broadcast back onto the scored frame; the rollup
    is a 3-group aggregation."""
    # checkpoint: scored feeds BOTH the threshold agg and the rollup —
    # uncheckpointed, the whole bigram model build + score fold runs twice
    scored = checkpoint(
        bigram_logprob(docs).select("doc_id", "avg_logprob"), "perplexity_buckets:scored"
    )
    th = scored.agg(
        F.round(F.percentile("avg_logprob", F.lit(1.0 / 3)), 6).alias("t1"),
        F.round(F.percentile("avg_logprob", F.lit(2.0 / 3)), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_logprob") > F.col("t2"), "head")
        .when(F.col("avg_logprob") > F.col("t1"), "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select(bucket.alias("bucket"), "avg_logprob")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("avg_logprob").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_logprob"),
        )
        .orderBy("bucket")
    )


@query("quality_perplexity_buckets", oracle=_PPL_BUCKETS_SQL, defer=True)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning by bigram-LM
    perplexity tercile. Registered deferred per the 50-slot window rule."""
    return perplexity_buckets(_docs(spark, sf_dir))


# --- Interpolated Kneser-Ney bigram LM (r14) --------------------------------
#
# The smoothing the real perplexity filters use: KenLM (the CCNet
# scorer) is interpolated modified-KN — Laplace (above) over-penalizes
# frequent contexts and rewards raw frequency where KN rewards
# CONTEXTUAL DIVERSITY (P_cont counts how many distinct contexts a word
# follows, famously rating "Francisco" low despite high frequency).
# Fixed discount D = 0.75 (Chen & Goodman 1999's canonical value; 3/4 is
# exact in binary, so every subtraction below is float-exact):
#
#   P_KN(c|p) = max(n(p,c) − D, 0)/n(p) + (D·N1+(p·)/n(p)) · P_cont(c)
#   P_cont(c) = N1+(·c) / N1+(··)
#
# All statistics are exact bigint counts over the same mapped
# (<s>-prefixed, vocab+<unk>) pair stream as the Laplace model; the
# three model maps (pair → full log-prob, context → log backoff weight
# λ(p), word → log P_cont) are KB-sized and JVM-built (no driver
# collect), and scoring is the same token-order fold. Self-scored
# corpora always hit the pair map; the backoff legs exist for held-out
# text: unseen pair with known context and word → λ(p)·P_cont(c);
# anything else → the uniform 1/classes floor. Float discipline: both
# engines evaluate the IDENTICAL arithmetic expression on identical
# exact integers, ln differs ≤1 ULP, 6-dp round — the house argument.

_KN_D = 0.75


def _kn_ctes(vocab_size: int = _BLM_VOCAB) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_transform({SQL_TOKENS}, x -> lower(x)) AS t FROM documents
),
vocab AS (
  SELECT term FROM (SELECT UNNEST(t) AS term FROM toks)
  GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT {vocab_size}
),
vset AS (
  SELECT map_from_entries(list((term, 1) ORDER BY term)) AS vm,
         CAST(COUNT(*) + 1 AS DOUBLE) AS classes
  FROM vocab
),
mapped AS (
  SELECT doc_id,
         list_transform(t, x -> CASE WHEN vm[x][1] IS NOT NULL THEN x ELSE '{_BLM_UNK}' END) AS m
  FROM toks CROSS JOIN vset
),
seq AS (
  SELECT doc_id, m, list_prepend('{_BLM_START}', m) AS fseq FROM mapped
),
pairs AS (
  SELECT fseq[i + 1] AS prev, m[i + 1] AS cur
  FROM (SELECT UNNEST(range(len(m))) AS i, fseq, m FROM seq)
),
bgc AS (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c FROM pairs GROUP BY prev, cur),
ctxs AS (
  SELECT prev, CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS n1p
  FROM bgc GROUP BY prev
),
conts AS (SELECT cur, CAST(COUNT(*) AS DOUBLE) AS nc FROM bgc GROUP BY cur),
ntot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM bgc),
model AS (
  SELECT
    (SELECT map_from_entries(list((b.prev || chr(31) || b.cur,
             ln(greatest(b.c - {_KN_D}, 0.0) / x.n
                + (({_KN_D} * x.n1p) / x.n) * (k.nc / ntot.nt))) ORDER BY b.prev, b.cur))
     FROM bgc b JOIN ctxs x ON b.prev = x.prev
                JOIN conts k ON b.cur = k.cur, ntot) AS mpb,
    (SELECT map_from_entries(list((prev, ln(({_KN_D} * n1p) / n)) ORDER BY prev))
     FROM ctxs) AS mpc,
    (SELECT map_from_entries(list((cur, ln(nc / ntot.nt)) ORDER BY cur))
     FROM conts, ntot) AS mpk,
    -ln((SELECT classes FROM vset)) AS fb
)"""


_KN_SCORE = """ROUND(list_reduce(
               [coalesce(mpb[fseq[i + 1] || chr(31) || m[i + 1]][1],
                         mpc[fseq[i + 1]][1] + mpk[m[i + 1]][1], fb)
                FOR i IN range(len(m))],
               (a, b) -> a + b) / CAST(len(m) AS DOUBLE), 6)"""

_KN_SQL = (
    _kn_ctes()
    + f"""
SELECT doc_id,
       CAST(len(m) AS BIGINT) AS n_tokens,
       {_KN_SCORE} AS avg_logprob
FROM seq CROSS JOIN model
ORDER BY doc_id
"""
)


def kn_bigram_logprob(
    docs: DataFrame, vocab_size: int = _BLM_VOCAB, discount: float = _KN_D
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) under the interpolated Kneser-Ney
    bigram model — see the section note for the recipe, backoff legs,
    and float discipline. Same scale shape as :func:`bigram_logprob`:
    KB model maps broadcast as one row, token-order score fold, the two
    narrow model groupBys are the only shuffles."""
    from .dedup import _spread_rows

    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    docs = _spread_rows(docs)
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    with_t = docs.select("doc_id", toks.alias("t"))
    vocab_df = (
        with_t.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(vocab_size)
    )
    vrow = vocab_df.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.lit(1).alias("one")))
        ).alias("vm"),
        (F.count(F.lit(1)) + 1).cast("double").alias("classes"),
    )
    mapped = with_t.crossJoin(F.broadcast(vrow)).select(
        "doc_id",
        F.transform(
            F.col("t"),
            lambda x: F.when(F.element_at(F.col("vm"), x).isNotNull(), x).otherwise(
                F.lit(_BLM_UNK)
            ),
        ).alias("m"),
        "classes",
    )
    full = F.concat(F.array(F.lit(_BLM_START)), F.col("m"))
    seq = mapped.select(
        "doc_id", "m", "classes", F.slice(full, 1, F.size("m")).alias("prevs")
    )
    pairs = seq.select(
        F.explode(
            F.zip_with(
                F.col("prevs"),
                F.col("m"),
                lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
            )
        ).alias("pc")
    ).select(F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur"))
    bgc = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).cast("double").alias("c"))
    ctxs = bgc.groupBy("prev").agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("n1p"),
    )
    conts = bgc.groupBy("cur").agg(F.count(F.lit(1)).cast("double").alias("nc"))
    ntot = F.broadcast(bgc.agg(F.count(F.lit(1)).cast("double").alias("nt")))
    d = F.lit(discount)
    lp_pair = F.log(
        F.greatest(F.col("c") - d, F.lit(0.0)) / F.col("n")
        + ((d * F.col("n1p")) / F.col("n")) * (F.col("nc") / F.col("nt"))
    )
    mpb_row = (
        bgc.join(F.broadcast(ctxs), "prev")
        .join(F.broadcast(conts), "cur")
        .crossJoin(ntot)
        .select(
            F.struct(
                F.concat(F.col("prev"), F.lit(_BLM_SEP), F.col("cur")).alias("k"),
                lp_pair.alias("lp"),
            ).alias("e")
        )
        .agg(F.map_from_entries(F.collect_list("e")).alias("mpb"))
    )
    mpc_row = ctxs.select(
        F.struct(
            F.col("prev").alias("k"), F.log((d * F.col("n1p")) / F.col("n")).alias("lp")
        ).alias("e")
    ).agg(F.map_from_entries(F.collect_list("e")).alias("mpc"))
    mpk_row = (
        conts.crossJoin(ntot)
        .select(
            F.struct(
                F.col("cur").alias("k"), F.log(F.col("nc") / F.col("nt")).alias("lp")
            ).alias("e")
        )
        .agg(F.map_from_entries(F.collect_list("e")).alias("mpk"))
    )
    classes_row = F.broadcast(vrow.select("classes"))
    model = (
        mpb_row.crossJoin(mpc_row)
        .crossJoin(mpk_row)
        .crossJoin(classes_row)
        .select("mpb", "mpc", "mpk", (-F.log(F.col("classes"))).alias("fb"))
    )
    zipped = F.zip_with(
        F.col("prevs"),
        F.col("m"),
        lambda p, c: F.struct(
            p.alias("p"),
            c.alias("c"),
            F.concat(p, F.lit(_BLM_SEP), c).alias("k"),
        ),
    )
    score = F.aggregate(
        zipped,
        F.lit(0.0),
        lambda acc, s: acc
        + F.coalesce(
            F.element_at(F.col("mpb"), s["k"]),
            F.element_at(F.col("mpc"), s["p"]) + F.element_at(F.col("mpk"), s["c"]),
            F.col("fb"),
        ),
    )
    return (
        seq.crossJoin(F.broadcast(model))
        .select(
            "doc_id",
            F.size("m").cast("bigint").alias("n_tokens"),
            F.round(score / F.size("m").cast("double"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@query("text_kn_bigram_logprob", oracle=_KN_SQL)
def text_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average per-token interpolated Kneser-Ney bigram log-probability
    per document — the KenLM-shaped upgrade of the Laplace bigram score
    (contextual diversity, not raw frequency, drives the backoff)."""
    return kn_bigram_logprob(_docs(spark, sf_dir))


# --- Corpus profile (data-card statistics) ---------------------------------

# NOTE: distinct name from the earlier _PROFILE_SQL (text_profile's oracle):
# decorators capture the value at definition time so a shadowed rebind would
# be latent-refactor-hazard, not a live bug — keep the names apart anyway.
_CORPUS_PROFILE_SQL = f"""
WITH sized AS (
  SELECT lang, len({SQL_TOKENS}) AS n_toks FROM documents
),
per_lang AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         CAST(MIN(n_toks) AS BIGINT) AS min_tokens,
         CAST(MAX(n_toks) AS BIGINT) AS max_tokens,
         quantile_cont(n_toks, 0.5) AS p50_tokens,
         quantile_cont(n_toks, 0.9) AS p90_tokens
  FROM sized GROUP BY lang
)
SELECT lang, n_docs, n_tokens, min_tokens, max_tokens, p50_tokens, p90_tokens,
       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE) AS corpus_share
FROM per_lang
ORDER BY lang
"""


def corpus_profile(docs: DataFrame) -> DataFrame:
    """Per-language data-card statistics: doc/token counts, token-length
    min/max and exact p50/p90, and each language's share of the corpus.
    Scale shape: ONE narrow (lang, n_toks) projection feeds a per-language
    aggregate; the grand-total share is a window over the LANGUAGE-count
    rows (a KB-sized frame — the window never touches corpus rows). Exact
    percentiles sort each language's token-count multiset (narrow ints,
    partial-aggregated); at extreme scale swap ``percentile`` for
    ``approx_percentile`` and drop the oracle to rows-only. Cross-engine:
    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` both
    linear-interpolate, verified bit-identical."""
    from pyspark.sql import Window

    sized = docs.select("lang", F.size(tokens_col(F.col("text"))).alias("n_toks"))
    per_lang = sized.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.min("n_toks").cast("bigint").alias("min_tokens"),
        F.max("n_toks").cast("bigint").alias("max_tokens"),
        F.percentile("n_toks", 0.5).alias("p50_tokens"),
        F.percentile("n_toks", 0.9).alias("p90_tokens"),
    )
    share = (
        F.col("n_docs").cast("double")
        / F.sum("n_docs").over(Window.partitionBy()).cast("double")
    )
    return per_lang.withColumn("corpus_share", share).orderBy("lang")


@query("corpus_profile_by_lang", oracle=_CORPUS_PROFILE_SQL, defer=True)
def corpus_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus data-card: per-language composition and token-length
    distribution — the first report any training-data pipeline publishes."""
    return corpus_profile(_docs(spark, sf_dir))


# --- Lang-id evaluation: confusion matrix -----------------------------------
#
# Any classifier in the curation path (language ID here; quality or safety
# models in production) ships with its evaluation: the confusion matrix
# against labels. Scale shape: the classifier is a pure projection; the
# matrix is one partial-agg groupBy to ≤ |langs|² rows, and the per-actual
# share window runs over those aggregated rows only — never corpus rows.

_CONFUSION_SQL = f"""
WITH preds AS ({_LANG_ID_SQL})
SELECT actual_lang, predicted_lang,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY actual_lang) AS DOUBLE)
         AS share_of_actual
FROM preds
GROUP BY actual_lang, predicted_lang
ORDER BY actual_lang, predicted_lang
"""


def lang_confusion(preds: DataFrame) -> DataFrame:
    """(actual_lang, predicted_lang, n, share_of_actual) over a frame with
    actual/predicted columns — the per-class evaluation report."""
    from pyspark.sql import Window

    counts = preds.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    share = F.col("n").cast("double") / F.sum("n").over(
        Window.partitionBy("actual_lang")
    ).cast("double")
    return counts.withColumn("share_of_actual", share).orderBy(
        "actual_lang", "predicted_lang"
    )


@query("text_lang_confusion", oracle=_CONFUSION_SQL, defer=True)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-voting language identifier against
    the labeled lang column — the classifier-eval surface of the curation
    pipeline."""
    return lang_confusion(text_lang_id(spark, sf_dir))


# --- Bloom-prefiltered decontamination (r12) --------------------------------
#
# text_decontaminate broadcasts the eval set's 4-gram STRINGS — fine while
# the eval suite is MBs, but a 100-benchmark suite of long contexts can
# reach GBs of distinct grams, past broadcast range. The Bloom pre-filter
# bounds the broadcast at the FILTER size regardless of eval-set size:
# k=3 salted md5 hashes into an m=65536-position space (a production build
# ships m/8 bytes = 8 KB as a bitmask; here the distinct-position table —
# at most min(3·|eval grams|, 65536) ints — keeps the membership check a
# pure broadcast join, zero-UDF in both engines). Corpus grams that pass
# all 3 probes are CANDIDATES (one-sided: a true contaminated gram always
# passes); only candidates flow into the exact verify join, so the
# expensive exact match runs over the tiny pre-filtered stream and the
# false-positive margin is visible in the output (n_bloom_candidates vs
# n_contaminated_ngrams). Every hash is engine-reproducible, so the whole
# two-phase cascade carries a hard DuckDB oracle.

_BLOOM_K = 3  # hash probes per gram
_BLOOM_M = 65536  # bit-position space (8 KB as a bitmask)


def _bloom_pos(g: Column, r: int) -> Column:
    from .dedup import _md5_long

    return F.pmod(
        _md5_long(F.concat(F.lit(f"bloom{r}:"), g), 13), F.lit(_BLOOM_M)
    ).cast("int")


def _sql_bloom_pos(expr: str, r: int) -> str:
    # dedup._sql_md5_long inlined: this string is built at module import
    # time and dedup imports text, so importing back would be circular
    return (
        f"CAST(('0x' || substr(md5('bloom{r}:' || {expr}), 1, 13))::BIGINT"
        f" % {_BLOOM_M} AS INT)"
    )


_BLOOM_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
  FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 4
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_SLICE_MOD} = 0),
positions AS (
  SELECT DISTINCT pos
  FROM bench, UNNEST([{", ".join(_sql_bloom_pos("g", r) for r in range(_BLOOM_K))}]) AS u(pos)
),
probe AS (
  SELECT doc_id, g,
         list_distinct([{", ".join(_sql_bloom_pos("g", r) for r in range(_BLOOM_K))}]) AS parr
  FROM grams WHERE doc_id % {EVAL_SLICE_MOD} <> 0
),
cand AS (SELECT doc_id, g, len(parr) AS np, UNNEST(parr) AS pos FROM probe),
hits AS (
  SELECT doc_id, g, np, COUNT(*) AS nh
  FROM cand JOIN positions USING (pos)
  GROUP BY doc_id, g, np
),
passed AS (SELECT doc_id, g FROM hits WHERE nh = np)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bloom_candidates,
       CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated_ngrams
FROM passed p LEFT JOIN bench b ON p.g = b.g
GROUP BY p.doc_id
ORDER BY doc_id
"""


@query("text_decontaminate_bloom", oracle=_BLOOM_DECONTAM_SQL, defer=True)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase Bloom-cascade decontamination: per training doc, the
    4-grams passing all 3 Bloom probes of the eval slice's filter
    (candidates — never misses a true hit) and how many verify exactly.
    The broadcast is bounded at the FILTER size however large the eval
    suite grows — see the section note."""
    from .dedup import _spread_rows

    # 3 salted md5s per gram is row-wise-heavy: spread past a
    # one-row-group scan partitioning (no-op on a many-split corpus)
    docs = _spread_rows(_docs(spark, sf_dir))
    toks = tokens_col(F.col("text"))
    grams4 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("t")) - 4),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i + 1, 4)),
        )
    )
    # r19: gate folded into the gram expression (see text_decontaminate) —
    # a pushed-down size Filter re-tokenizes every row
    grams4_guarded = F.when(F.size(F.col("t")) >= 4, grams4).otherwise(
        F.array().cast("array<string>")
    )
    base = docs.select("doc_id", toks.alias("t")).select(
        "doc_id", F.explode(grams4_guarded).alias("g")
    )
    bench = base.filter(is_eval_doc(F.col("doc_id"))).select("g").distinct()
    positions = bench.select(
        F.explode(
            F.array_distinct(
                F.array(*[_bloom_pos(F.col("g"), r) for r in range(_BLOOM_K)])
            )
        ).alias("pos")
    ).distinct()
    parr = F.array_distinct(
        F.array(*[_bloom_pos(F.col("g"), r) for r in range(_BLOOM_K)])
    )
    cand = (
        base.filter(~is_eval_doc(F.col("doc_id")))
        .select("doc_id", "g", F.size(parr).alias("np"), F.explode(parr).alias("pos"))
        .join(F.broadcast(positions), "pos")
        .groupBy("doc_id", "g", "np")
        .agg(F.count(F.lit(1)).alias("nh"))
        .filter(F.col("nh") == F.col("np"))
        .select("doc_id", "g")
    )
    return (
        cand.join(F.broadcast(bench.withColumn("_hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bloom_candidates"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated_ngrams"),
        )
        .orderBy("doc_id")
    )

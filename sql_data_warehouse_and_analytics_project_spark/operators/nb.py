"""Trained Naive Bayes document classifier (model-based quality/lang-ID).

Modern pretraining pipelines filter with TRAINED classifiers, not just
heuristics (fastText lang-ID, model-based quality scoring). This module
adds the engine's trained-classifier stage as multinomial Naive Bayes —
chosen over gradient-trained models deliberately: its "training" is pure
counting (one groupBy), which makes the whole pipeline deterministic,
shuffle-minimal, and bit-replayable in the DuckDB oracle, where an
LBFGS/SGD fit would be neither.

Model (add-one smoothing over a shared top-V vocabulary):
- prior(c)      = ln(n_docs_c / n_docs)
- w(t, c)       = ln((count(t in c) + 1) / (N_c + V + 1))  for vocab t
- fallback(c)   = ln(1 / (N_c + V + 1))  — OOV tokens AND vocab terms the
  class never saw get the same zero-count weight, so a per-class map that
  only stores observed (term, class) pairs needs no densification.
- score(d, c)   = prior(c) + Σ_tokens w/fallback, folded in TOKEN ORDER
  (the float-exactness discipline shared with ``unigram_logprob``);
  prediction = argmax, ties to the lexicographically smallest class.

Scale shape: training is one corpus explode → (lang, term) partial-agg
groupBy capped by the V-term vocabulary join, plus two KB aggregates
(docs/tokens per class). Scoring is a PURE PROJECTION over the corpus —
zero extra shuffles — under either physical strategy (same split as
``unigram_logprob``): a driver-side literal map per class (right up to
~100K weights; logs via driver libm = the oracle's libm), or the
broadcast strategy with NO collect — a ONE-ROW map<class, map<term, w>>
frame broadcast onto the corpus (JVM libm, ≤1 ULP — invisible at the 6-dp
output surface; parity-pytested against the literal path).

ref: beyond the reference surface (north-star training-data extension);
complements the heuristic lang-ID in ``text.py`` (oracle
``text_lang_confusion``) with the trained twin.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame
from .text import SQL_TOKENS, tokens_col

_NB_VOCAB = 256
# past this many stored (term, class) weights the literal plan outgrows
# codegen; the broadcast map-of-maps strategy takes over (same cutover
# rationale as text._LM_BROADCAST_CUTOVER)
_NB_BROADCAST_CUTOVER = 100_000

_NB_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, list_transform({SQL_TOKENS}, x -> lower(x)) AS t FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT UNNEST(t) AS term FROM toks
  ) GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT {_NB_VOCAB}
),
classes AS (
  SELECT lang,
         ln(CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM toks)) AS prior,
         CAST(SUM(len(t)) AS DOUBLE) AS n_c
  FROM toks GROUP BY lang
),
cnts AS (
  SELECT x.lang, x.term, CAST(COUNT(*) AS DOUBLE) AS c
  FROM (SELECT lang, UNNEST(t) AS term FROM toks) x
  JOIN vocab v ON x.term = v.term
  GROUP BY x.lang, x.term
),
model AS (
  SELECT cl.lang, cl.prior,
         ln(1.0 / (cl.n_c + {_NB_VOCAB} + 1)) AS fallback,
         (SELECT map_from_entries(list((cn.term, ln((cn.c + 1) / (cl.n_c + {_NB_VOCAB} + 1))) ORDER BY cn.term))
          FROM cnts cn WHERE cn.lang = cl.lang) AS mp
  FROM classes cl
),
scored AS (
  SELECT tk.doc_id, tk.lang, m.lang AS cand,
         m.prior + list_reduce(
           list_prepend(0.0, list_transform(tk.t, x -> coalesce(m.mp[x][1], m.fallback))),
           (a, b) -> a + b) AS s
  FROM toks tk CROSS JOIN model m
),
best AS (
  SELECT doc_id, lang, cand AS pred_lang, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cand) AS rn
  FROM scored
)
SELECT doc_id, lang, pred_lang,
       CAST(lang = pred_lang AS INT) AS hit,
       ROUND(s, 6) AS nb_score
FROM best WHERE rn = 1
ORDER BY doc_id
"""


def _with_tokens(docs: DataFrame) -> DataFrame:
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    return docs.select("doc_id", "lang", toks.alias("t"))


def _train_counts(with_t: DataFrame, vocab_size: int):
    """The three model frames (all KB-sized): per-class prior inputs,
    per-class token totals, and (lang, term) counts capped to the top-V
    shared vocabulary."""
    vocab = (
        with_t.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(vocab_size)
        .select("term")
    )
    classes = with_t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(F.size("t")).cast("double").alias("n_c"),
    )
    cnts = (
        with_t.select("lang", F.explode("t").alias("term"))
        .join(F.broadcast(vocab), "term")
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    return classes, cnts


def _pick_best(scored_structs: F.Column) -> F.Column:
    """argmax over array<struct<ns: -score, lang, s>> — array_min orders by
    (-score, lang), i.e. highest score then lexicographic class."""
    return F.array_min(scored_structs)


def nb_language_classifier(
    docs: DataFrame, vocab_size: int = _NB_VOCAB, strategy: str | None = None
) -> DataFrame:
    """(doc_id, lang, pred_lang, hit, nb_score) — Naive Bayes prediction
    per document. ``strategy``: "literal" (driver-side weight literals,
    oracle-exact) below :data:`_NB_BROADCAST_CUTOVER` weights, "broadcast"
    (no collect; one-row map-of-maps frame) above; ``None`` auto-selects."""
    with_t = _with_tokens(docs)
    classes_df, cnts_df = _train_counts(with_t, vocab_size)

    if strategy is None:
        n_weights = cnts_df.count()
        strategy = "literal" if n_weights <= _NB_BROADCAST_CUTOVER else "broadcast"

    if strategy == "broadcast":
        n_docs = with_t.agg(F.count(F.lit(1)).cast("double").alias("n")).select("n")
        per_class = (
            cnts_df.join(classes_df, "lang")
            .select(
                "lang",
                F.struct(
                    "term",
                    F.log((F.col("c") + 1) / (F.col("n_c") + vocab_size + 1)).alias("w"),
                ).alias("e"),
            )
            .groupBy("lang")
            .agg(F.map_from_entries(F.collect_list("e")).alias("mp"))
        )
        model_rows = (
            classes_df.join(per_class, "lang", "left")
            .crossJoin(F.broadcast(n_docs))
            .select(
                F.struct(
                    "lang",
                    F.struct(
                        F.log(F.col("nd") / F.col("n")).alias("prior"),
                        F.log(F.lit(1.0) / (F.col("n_c") + vocab_size + 1)).alias("fallback"),
                        F.coalesce(
                            "mp", F.expr("CAST(map() AS MAP<STRING, DOUBLE>)")
                        ).alias("mp"),
                        F.col("lang").alias("cl"),
                    ).alias("m"),
                ).alias("cm")
            )
            # global agg → ALWAYS one row (empty corpus → empty map), the
            # same crossJoin-safety rule as unigram_logprob's broadcast path
            .agg(F.map_from_entries(F.collect_list("cm")).alias("models"))
        )
        scored = F.transform(
            F.map_values(F.col("models")),
            lambda m: F.struct(
                (
                    -(
                        m.prior
                        + F.aggregate(
                            F.col("t"),
                            F.lit(0.0),
                            lambda acc, x: acc
                            + F.coalesce(F.element_at(m.mp, x), m.fallback),
                        )
                    )
                ).alias("ns"),
                m.cl.alias("lang"),
                (
                    m.prior
                    + F.aggregate(
                        F.col("t"),
                        F.lit(0.0),
                        lambda acc, x: acc + F.coalesce(F.element_at(m.mp, x), m.fallback),
                    )
                ).alias("s"),
            ),
        )
        best = _pick_best(scored)
        return (
            with_t.crossJoin(F.broadcast(model_rows))
            .select("doc_id", "lang", best.alias("b"))
            .filter(F.col("b").isNotNull())
            .select(
                "doc_id",
                "lang",
                F.col("b.lang").alias("pred_lang"),
                (F.col("lang") == F.col("b.lang")).cast("int").alias("hit"),
                F.round(F.col("b.s"), 6).alias("nb_score"),
            )
            .orderBy("doc_id")
        )

    # literal strategy: collect the KB model frames, bake weights as literals
    classes = sorted(classes_df.collect(), key=lambda r: r["lang"])
    if not classes:
        ddl = "doc_id bigint, lang string, pred_lang string, hit int, nb_score double"
        return local_frame(docs.sparkSession, [], ddl)
    n_docs = float(sum(r["nd"] for r in classes))
    cnts: dict[str, list] = {r["lang"]: [] for r in classes}
    for r in cnts_df.collect():
        cnts[r["lang"]].append(r)
    cand_structs = []
    for cl in classes:
        lang, n_c = cl["lang"], float(cl["n_c"])
        prior = math.log(float(cl["nd"]) / n_docs)
        fallback = math.log(1.0 / (n_c + vocab_size + 1))
        entries: list = []
        for r in sorted(cnts[lang], key=lambda r: r["term"]):
            entries.append(F.lit(r["term"]))
            entries.append(F.lit(math.log((float(r["c"]) + 1.0) / (n_c + vocab_size + 1))))
        if entries:
            mp = F.create_map(*entries)
            lookup = lambda x, mp=mp, fb=fallback: F.coalesce(
                F.element_at(mp, x), F.lit(fb)
            )
        else:
            lookup = lambda x, fb=fallback: F.lit(fb)
        score = F.lit(prior) + F.aggregate(
            F.col("t"), F.lit(0.0), lambda acc, x: acc + lookup(x)
        )
        cand_structs.append(
            F.struct((-score).alias("ns"), F.lit(lang).alias("lang"), score.alias("s"))
        )
    best = _pick_best(F.array(*cand_structs))
    return (
        with_t.select("doc_id", "lang", best.alias("b"))
        .select(
            "doc_id",
            "lang",
            F.col("b.lang").alias("pred_lang"),
            (F.col("lang") == F.col("b.lang")).cast("int").alias("hit"),
            F.round(F.col("b.s"), 6).alias("nb_score"),
        )
        .orderBy("doc_id")
    )


@query("text_nb_langid", oracle=_NB_SQL, defer=True)
def text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained Naive Bayes language identification over documents: count-
    based training and token-order-folded scoring, engine-reproducible to
    the 6-dp score and the exact argmax prediction."""
    return nb_language_classifier(tpch.load(spark, sf_dir, "documents"))

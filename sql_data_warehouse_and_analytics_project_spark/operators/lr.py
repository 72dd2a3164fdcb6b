"""Logistic-regression text classifier trained by distributed full-batch
gradient descent — with a HARD cross-engine oracle for the training loop.

The model-based-filtering line in a real LLM pipeline (CCNet / GPT-3
quality classifiers) trains a linear classifier over hashed bag-of-words
features. The engine already has the counting side (Naive Bayes,
``nb.py``) — this module adds the gradient-descent side: w ← w − lr·∇L,
T fixed full-batch iterations, every iteration one Spark aggregation
over a cached feature frame plus one bounded D-row collect (D = 64
hashed buckets — KB-sized model state, same budget class as the NB/LM
tables). Unlike BPE's data-dependent merge loop (rows-only by design),
a FIXED iteration count makes GD training relationally expressible: the
DuckDB oracle unrolls all T iterations into chained CTEs (w_t → margins
→ fast-sigmoid probabilities → per-bucket gradient folds → w_{t+1}), so
the driver hash-checks the ENTIRE training trajectory, not just the
scoring pass.

Cross-engine float discipline (see the parity conventions memory):

- The squashing link is the ALGEBRAIC fast sigmoid
  p = 0.5 + 0.5·m/(1+|m|), not 1/(1+e^-m): +,*,/,abs are correctly
  rounded IEEE in both engines, while ``exp`` may differ in the last
  ulp between the JVM and DuckDB and one ulp compounds over T rounds.
- Per-doc margins fold per-doc feature arrays in SORTED BUCKET ORDER
  (sort_array + ordered ``F.aggregate`` / ``list(... ORDER BY bucket)``
  + list_reduce), and per-bucket gradients fold contributions in SORTED
  DOC ORDER — float sums are order-dependent, so both engines fix the
  same order (the BM25 fold idiom).
- Driver-side w updates are plain binary64 arithmetic re-injected as
  exact literals; DuckDB's unrolled CTEs perform the identical update.

Parity vs scale (the W2 surrogate-key precedent): the ordered per-bucket
gradient fold collects one (doc_id, contrib) list per bucket — exact and
oracle-matched, but a bucket's list grows with the corpus. ``fold="scale"``
swaps it for a plain partial-aggregating SUM (order-free up to fp
associativity, no collected lists, map-side combine) — the default for
production; the registered query pins ``fold="parity"``. At 100 TB the
cached feature frame becomes a checkpointed parquet and each iteration
is one scan of it; T stays a constant (12), not a function of data.

No reference counterpart (`/root/reference/` is T-SQL warehousing) —
LLM-pipeline extension; public textbook algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import cached, checkpoint, released
from ..registry import query
from ..sources import tpch
from ..sources.local import local_frame
from .dedup import _md5_long, _sql_md5_long
from .text import SQL_TOKENS, tokens_col

_D = 64  # hashed feature buckets (model = 64 doubles)
_T = 12  # full-batch GD iterations (fixed → SQL-unrollable)
_LR = 1.0  # learning rate


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.load(spark, sf_dir, "documents")


def hashed_features(docs: DataFrame, label, n_buckets: int = _D) -> DataFrame:
    """(doc_id, y, arr) — y the 0/1 double label, arr a BUCKET-SORTED
    array<struct<bucket:int, x:double>> of hashed bag-of-words features,
    x = tf/dl over lowered whitespace tokens. (doc_id, bucket) is unique,
    so the sorted array gives every downstream fold a fixed order."""
    from .dedup import _spread_rows

    # spread before the projection AND the downstream persist (r12): a
    # one-row-group corpus arrives as ONE partition; uncorrected, the
    # token explode runs on one core and — worse — the cached feature
    # frame keeps that partitioning, so all 12 GD aggregations iterate
    # single-threaded
    docs = _spread_rows(docs)
    toks = F.transform(tokens_col(F.col("text")), lambda t: F.lower(t))
    base = docs.select(
        "doc_id",
        label.cast("double").alias("y"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    per_bucket = (
        base.withColumn("bucket", (_md5_long(F.col("term"), 13) % n_buckets).cast("int"))
        .groupBy("doc_id", "y", "dl", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .select(
            "doc_id",
            "y",
            F.struct(
                "bucket", (F.col("tf") / F.col("dl").cast("double")).alias("x")
            ).alias("e"),
        )
    )
    return per_bucket.groupBy("doc_id", "y").agg(
        F.sort_array(F.collect_list("e")).alias("arr")
    )


def _margin(w: list[float]):
    w_lit = F.array(*[F.lit(float(v)) for v in w])
    return F.aggregate(
        "arr",
        F.lit(0.0),
        lambda acc, e: acc + e["x"] * F.element_at(w_lit, e["bucket"] + 1),
    )


def _fast_sigmoid(m):
    return F.lit(0.5) + F.lit(0.5) * m / (F.lit(1.0) + F.abs(m))


def train_lr(
    feats: DataFrame,
    n_buckets: int = _D,
    iters: int = _T,
    lr: float = _LR,
    fold: str = "scale",
) -> list[float]:
    """Full-batch GD over ``hashed_features`` output → the trained weight
    vector (length ``n_buckets``). ``fold="parity"`` reproduces the
    oracle's doc-ordered gradient folds bit-for-bit; ``fold="scale"``
    (default) uses plain partial-aggregating sums."""
    if fold not in ("parity", "scale"):
        raise ValueError(f"fold must be 'parity' or 'scale', got {fold!r}")
    with released():
        feats = cached(feats)
        n_docs = feats.count()
        w = [0.0] * n_buckets
        for _ in range(iters):
            p = _fast_sigmoid(_margin(w))
            contribs = (
                feats.select("doc_id", "y", "arr", p.alias("p"))
                .select("doc_id", "p", "y", F.explode("arr").alias("e"))
                .select(
                    "doc_id",
                    F.col("e.bucket").alias("bucket"),
                    ((F.col("p") - F.col("y")) * F.col("e.x")).alias("c"),
                )
            )
            if fold == "parity":
                grad = contribs.groupBy("bucket").agg(
                    F.aggregate(
                        F.transform(
                            F.sort_array(F.collect_list(F.struct("doc_id", "c"))),
                            lambda s: s["c"],
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("g")
                )
            else:
                grad = contribs.groupBy("bucket").agg(F.sum("c").alias("g"))
            for row in grad.collect():  # bounded: <= n_buckets rows (KB model)
                w[row["bucket"]] -= lr * (row["g"] / float(n_docs))
    return w


def score_lr(feats: DataFrame, w: list[float]) -> DataFrame:
    """(doc_id, y, score) — fast-sigmoid probability under ``w``, rounded
    6dp on the output surface only."""
    return feats.select(
        "doc_id",
        F.col("y").cast("bigint").alias("y"),
        F.round(_fast_sigmoid(_margin(w)), 6).alias("score"),
    ).orderBy("doc_id")


def _lr_sql(
    n_buckets: int = _D, iters: int = _T, lr: float = _LR, as_cte: bool = False
) -> str:
    """Unroll the full training loop into chained CTEs — one (margin,
    gradient, weight-update) triple per iteration, every fold in the same
    fixed order the Spark side uses. ``as_cte=True`` closes the chain as
    a ``scored`` CTE instead of the final ordered SELECT, so downstream
    oracles (calibration) can build on the scored output."""
    h = _sql_md5_long("term", 13)
    parts = [
        f"""WITH toks AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         list_transform({SQL_TOKENS}, t -> lower(t)) AS t
  FROM documents
),
feats AS MATERIALIZED (
  SELECT doc_id, y, bucket, CAST(COUNT(*) AS DOUBLE) / dl AS x
  FROM (
    SELECT doc_id, y, CAST(len(t) AS DOUBLE) AS dl,
           CAST({h} % {n_buckets} AS INT) AS bucket
    FROM (SELECT doc_id, y, t, UNNEST(t) AS term FROM toks)
  )
  GROUP BY doc_id, y, dl, bucket
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM feats),
w0 AS MATERIALIZED (SELECT UNNEST(range(0, {n_buckets})) AS bucket, 0.0 AS w)"""
    ]
    for t in range(iters):
        parts.append(f"""m{t} AS MATERIALIZED (
  SELECT f.doc_id,
         list_reduce(list(f.x * w.w ORDER BY f.bucket), (a, b) -> a + b) AS m
  FROM feats f JOIN w{t} w USING (bucket) GROUP BY f.doc_id
),
p{t} AS MATERIALIZED (SELECT doc_id, 0.5 + 0.5 * m / (1.0 + abs(m)) AS p FROM m{t}),
g{t} AS MATERIALIZED (
  SELECT f.bucket,
         list_reduce(list((p.p - f.y) * f.x ORDER BY f.doc_id), (a, b) -> a + b)
           / (SELECT n_docs FROM n) AS g
  FROM feats f JOIN p{t} p USING (doc_id) GROUP BY f.bucket
),
w{t + 1} AS MATERIALIZED (
  SELECT w.bucket, w.w - {lr!r} * COALESCE(g.g, 0.0) AS w
  FROM w{t} w LEFT JOIN g{t} g USING (bucket)
)""")
    parts.append(f"""mf AS MATERIALIZED (
  SELECT f.doc_id,
         list_reduce(list(f.x * w.w ORDER BY f.bucket), (a, b) -> a + b) AS m
  FROM feats f JOIN w{iters} w USING (bucket) GROUP BY f.doc_id
)""")
    select = f"""SELECT f.doc_id,
       CAST(f.y AS BIGINT) AS y,
       ROUND(0.5 + 0.5 * m / (1.0 + abs(m)), 6) AS score
FROM (SELECT DISTINCT doc_id, y FROM feats) f JOIN mf USING (doc_id)"""
    if as_cte:
        return ",\n".join(parts) + ",\nscored AS (\n" + select + "\n)"
    return ",\n".join(parts) + "\n" + select + "\nORDER BY f.doc_id"


_LR_SQL = _lr_sql()


@query("text_lr_langid_en", oracle=_LR_SQL, defer=True)
def text_lr_langid_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary is-English classifier over 64 hashed bag-of-words buckets,
    trained by 12 full-batch GD iterations INSIDE the query — the DuckDB
    oracle replays the whole trajectory through unrolled CTEs, so the
    hash check covers training, not just inference. Weak label lang='en';
    the mechanism (not the label) is the capability under test — swap in
    a curated-vs-crawl label column for a production quality classifier."""
    docs = _docs(spark, sf_dir)
    # explicit otherwise(0.0), not a bare boolean cast (ADVICE r11): a NULL
    # lang would make the bare comparison's label NULL — the gradient fold
    # would go NULL and crash the driver-side weight update — while the
    # DuckDB oracle's CASE WHEN maps NULL lang to 0.0
    label = F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
    feats = hashed_features(docs, label=label)
    w = train_lr(feats, fold="parity")
    return score_lr(feats, w)


# --- calibration: reliability bins + ECE (r14) -------------------------------
#
# "Is the classifier's 0.8 really an 80%?" — the question a quality
# threshold (e.g. keep docs with P(en) > 0.7) silently depends on. The
# LR score is a true [0,1] probability surface, so calibration is
# well-posed: ten equal-width reliability bins (bin = floor(score·10),
# clamped to 9), each reporting mean predicted probability vs empirical
# positive rate and the |gap|; ECE is the doc-weighted mean of the gaps
# (Naeini et al. 2015 / Guo et al. 2017). Float discipline: scores are
# 6-dp-rounded, hence exactly representable as DECIMAL(18,6) — per-bin
# sums are partition-order-exact (the perplexity_buckets argument); the
# ≤10-bin ECE fold runs in bin order via the ordered-fold idiom.
# Scale shape: one groupBy collapses the corpus to ≤10 bin rows;
# everything after is constant-size.


def calibration_bins(scored: DataFrame) -> DataFrame:
    """(bin, n_docs, mean_score, pos_rate, abs_gap) from a
    (doc_id, y, score) frame — ten equal-width reliability bins."""
    b = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("score").cast("decimal(18,6)")).alias("_s"),
            F.sum("y").cast("bigint").alias("_p"),
        )
        .select(
            "bin",
            "n_docs",
            F.round(F.col("_s").cast("double") / F.col("n_docs").cast("double"), 6).alias(
                "mean_score"
            ),
            F.round(F.col("_p").cast("double") / F.col("n_docs").cast("double"), 6).alias(
                "pos_rate"
            ),
            F.round(
                F.abs(
                    F.col("_s").cast("double") / F.col("n_docs").cast("double")
                    - F.col("_p").cast("double") / F.col("n_docs").cast("double")
                ),
                6,
            ).alias("abs_gap"),
        )
        .orderBy("bin")
    )


def calibration_ece(scored: DataFrame) -> DataFrame:
    """One row (n_bins, n_docs, ece): expected calibration error — the
    doc-weighted mean |gap| over the reliability bins, folded in bin
    order (≤10 doubles, ordered-fold idiom)."""
    b = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    bins = scored.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("score").cast("decimal(18,6)")).alias("s"),
        F.sum("y").cast("bigint").alias("p"),
    )
    gap_w = F.abs(
        F.col("s").cast("double") / F.col("n").cast("double")
        - F.col("p").cast("double") / F.col("n").cast("double")
    ) * F.col("n").cast("double")
    folded = bins.select(F.struct("bin", gap_w.alias("gw")).alias("e"), "n").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list("e")), lambda s: s["gw"]
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("gsum"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n").cast("bigint").alias("n_docs"),
    )
    return folded.select(
        "n_bins",
        "n_docs",
        F.round(F.col("gsum") / F.col("n_docs").cast("double"), 6).alias("ece"),
    )


_CAL_TAIL = """
binned AS (
  SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(score AS DECIMAL(18,6))) AS s,
         CAST(SUM(y) AS BIGINT) AS p
  FROM scored GROUP BY 1
)"""

_CAL_BINS_SQL = (
    _lr_sql(as_cte=True)
    + ",\n"
    + _CAL_TAIL
    + """
SELECT bin, n_docs,
       ROUND(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_score,
       ROUND(CAST(p AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pos_rate,
       ROUND(abs(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 - CAST(p AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS abs_gap
FROM binned
ORDER BY bin
"""
)

_CAL_ECE_SQL = (
    _lr_sql(as_cte=True)
    + ",\n"
    + _CAL_TAIL
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       ROUND(list_reduce(
               list(abs(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)
                        - CAST(p AS DOUBLE) / CAST(n_docs AS DOUBLE))
                    * CAST(n_docs AS DOUBLE) ORDER BY bin),
               (a, b) -> a + b) / CAST(SUM(n_docs) AS DOUBLE), 6) AS ece
FROM binned
"""
)


def _lr_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    label = F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
    feats = hashed_features(docs, label=label)
    w = train_lr(feats, fold="parity")
    return score_lr(feats, w)


@query("eval_calibration_bins", oracle=_CAL_BINS_SQL, defer=True)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained LR en-classifier: mean
    predicted probability vs empirical positive rate per equal-width
    probability bin — the oracle replays training AND binning."""
    return calibration_bins(_lr_scored(spark, sf_dir))


@query("eval_calibration_ece", oracle=_CAL_ECE_SQL)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the trained LR en-classifier —
    one doc-weighted number a probability-thresholding curation gate
    can be audited by."""
    return calibration_ece(_lr_scored(spark, sf_dir))


# Brier score: the proper scoring rule the ECE diagnostic complements —
# mean squared error of the probability against the 0/1 label. The 6-dp
# scores are DECIMAL(18,6)-exact, so (score − y)² accumulates as
# DECIMAL(38,12) with no float order-dependence; one corpus-collapsing
# aggregate, one final divide.


def brier_score(scored: DataFrame) -> DataFrame:
    """One row (n_docs, brier) from a (doc_id, y, score) frame."""
    sq = (
        (F.col("score").cast("decimal(18,6)") - F.col("y").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((sq * sq).cast("decimal(38,12)")).alias("_ss"),
    ).select(
        "n_docs",
        F.round(
            F.col("_ss").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("brier"),
    )


_BRIER_SQL = (
    _lr_sql(as_cte=True)
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(CAST(CAST(score AS DECIMAL(18,6))
                                 - CAST(y AS DECIMAL(18,6)) AS DECIMAL(18,6))
                           * CAST(CAST(score AS DECIMAL(18,6))
                                  - CAST(y AS DECIMAL(18,6)) AS DECIMAL(18,6))
                           AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS brier
FROM scored
"""
)


@query("eval_brier_score", oracle=_BRIER_SQL, defer=True)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared probability error) of the trained LR
    en-classifier — the proper scoring rule beside the ECE diagnostic,
    decimal-exact until the single final divide."""
    return brier_score(_lr_scored(spark, sf_dir))


# --- isotonic (PAV) calibration (r14) ----------------------------------------
#
# The TREATMENT beside the ECE diagnostic: pool-adjacent-violators
# (Ayer et al. 1955; Zadrozny & Elkan 2002) fits the L2-optimal
# monotone map score → P(y=1) and is the standard non-parametric
# recalibration for any ranking-faithful score. Scale shape mirrors
# kmeans/PQ: scores collapse to a ≤10⁴-row binned count table (4-dp
# fixed-point keys — PAV on raw distinct floats would make model size
# corpus-dependent), the sequential PAV runs driver-side over that KB
# table (rows-only by design, the BPE/greedy class), and application is
# one broadcast equi-join of the fitted step table back onto the corpus.


def _pav(pairs: list[tuple[int, float, float]]) -> list[tuple[int, float]]:
    """Pool-adjacent-violators over (key, weight, mean) rows sorted by
    key → (key, fitted) with fitted non-decreasing in key. Pure driver
    arithmetic on the compact table."""
    blocks: list[list[float]] = []  # [weight, weighted_sum, n_members]
    keys = [k for k, _, _ in pairs]
    for _, w, m in pairs:
        blocks.append([w, w * m, 1])
        while len(blocks) > 1 and (
            blocks[-2][1] / blocks[-2][0] >= blocks[-1][1] / blocks[-1][0]
        ):
            w2, s2, c2 = blocks.pop()
            blocks[-1][0] += w2
            blocks[-1][1] += s2
            blocks[-1][2] += c2
    out: list[tuple[int, float]] = []
    i = 0
    for w, s, c in blocks:
        v = s / w
        for _ in range(int(c)):  # a block spans consecutive keys
            out.append((keys[i], v))
            i += 1
    return out


def isotonic_fit(scored: DataFrame, key_dp: int = 4) -> list[tuple[int, float]]:
    """Driver-side PAV fit over the binned (score → positive rate) count
    table: returns the (bin_key, fitted_p) step table (≤ 10^key_dp + 1
    rows). ``bin_key = floor(score · 10^key_dp)``."""
    scale = 10 ** key_dp
    tbl = (
        scored.groupBy(F.floor(F.col("score") * scale).cast("bigint").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("w"),
            F.sum("y").cast("bigint").alias("p"),
        )
        .orderBy("k")
        .collect()  # bounded: ≤ 10^key_dp + 1 rows (KB model state)
    )
    pairs = [(int(r["k"]), float(r["w"]), r["p"] / r["w"]) for r in tbl]
    return _pav(pairs)


def isotonic_apply(
    scored: DataFrame, fit: list[tuple[int, float]], key_dp: int = 4
) -> DataFrame:
    """scored + ``calibrated`` column: broadcast equi-join of the fitted
    step table on the bin key (every in-sample key is present in the
    fit; unseen keys at inference time should be clamped upstream)."""
    scale = 10 ** key_dp
    spark = scored.sparkSession
    ft = F.broadcast(
        local_frame(spark, [(k, round(v, 6)) for k, v in fit], "k bigint, calibrated double")
    )
    return scored.withColumn(
        "k", F.floor(F.col("score") * scale).cast("bigint")
    ).join(ft, "k", "left").drop("k")


@query("eval_isotonic_calibration", oracle=None)
def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_docs, n_keys, n_blocks, ece_raw, ece_isotonic): fit PAV
    on the trained LR scores, apply it, and report the before/after ECE
    — the full diagnose→treat calibration loop in one query. Rows-only
    by design (PAV is a sequential pool merge, the BPE class); pytest
    pins the PAV math against hand-solved cases and its defining
    properties."""
    scored = checkpoint(_lr_scored(spark, sf_dir), "calibration:scored")
    fit = isotonic_fit(scored)
    applied = isotonic_apply(scored, fit).withColumn(
        "score_raw", F.col("score")
    )
    ece_raw = calibration_ece(scored).collect()[0]
    cal = applied.select("doc_id", "y", F.col("calibrated").alias("score"))
    ece_iso = calibration_ece(cal).collect()[0]
    n_blocks = len(set(v for _, v in fit))
    return local_frame(
        spark,
        [
            (
                int(ece_raw["n_docs"]),
                len(fit),
                n_blocks,
                float(ece_raw["ece"]),
                float(ece_iso["ece"]),
            )
        ],
        "n_docs bigint, n_keys bigint, n_blocks bigint, ece_raw double, ece_isotonic double",
    )

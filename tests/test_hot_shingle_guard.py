"""Hot-shingle df-cut guard in the MinHash exact-verify leg (r13 VERDICT #2).

The verify stage used to self-join candidate-doc shingles on the shingle
key: a boilerplate shingle present in ~all candidate docs fans out
quadratically on a single reducer key. ``dedup._candidate_shared_counts``
splits shingles at df > _JACCARD_DF_CUT — self-join over rare shingles
only, hot-shingle overlap recovered EXACTLY via per-doc arrays — so these
tests pin (a) bit-identical shared counts vs the unguarded join on a
planted boilerplate corpus, (b) unchanged end-to-end minhash_lsh_pairs
output vs a pure-Python brute force, and (c) the join-input reduction
that is the point of the guard.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from sql_data_warehouse_and_analytics_project_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, lang string, text string")


def _shingle_set(text: str, n: int = 3) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


# 40 docs sharing a 40-token non-repeating boilerplate prefix (all 38
# prefix shingles have df = 40 > _JACCARD_DF_CUT = 32, i.e. hot in 100%
# of candidate docs) with a single unique tail token each: pairwise
# Jaccard = 38/40 = 0.95 ≥ threshold, and 40 docs stay under the LSH
# bucket cap (64) so no pair is trimmed — the planted worst case for the
# unguarded verify self-join.
_BOILER = " ".join(f"boilerword{k}" for k in range(40))


def _planted_rows(n_docs: int = 40):
    return [(i, "en", _BOILER + f" tail{i}") for i in range(1, n_docs + 1)]


def test_guarded_shared_counts_match_unguarded_join(spark):
    """_candidate_shared_counts must equal the naive shingle self-join
    bit-for-bit on a corpus where the hot shingles dominate (df = 40 for
    every boilerplate shingle, 90%+ of each doc's shingle set)."""
    docs = _docs(spark, _planted_rows())
    sh = dedup._shingle_rows(docs)
    ids = [r[0] for r in docs.select("doc_id").collect()]
    cand = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(sorted(ids), 2)],
        "doc_id_1 bigint, doc_id_2 bigint",
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["shared"]
        for r in dedup._candidate_shared_counts(sh, cand).collect()
    }
    sa, sb = sh.alias("sa"), sh.alias("sb")
    naive = {
        (r["doc_id_1"], r["doc_id_2"]): r["shared"]
        for r in sa.join(
            sb,
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(F.col("sa.doc_id").alias("doc_id_1"), F.col("sb.doc_id").alias("doc_id_2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .collect()
    }
    # the guard must also COVER pairs the naive join can only reach through
    # hot shingles — here every pair overlaps, so the key sets coincide
    assert set(got) == set(cand.collect()) >= set(naive)
    for k, v in naive.items():
        assert got[k] == v, k
    # python recomputation as the independent oracle
    texts = {i: t for i, _, t in _planted_rows()}
    for (a, b), v in got.items():
        assert v == len(_shingle_set(texts[a]) & _shingle_set(texts[b])), (a, b)


def test_minhash_lsh_pairs_unchanged_on_boilerplate_corpus(spark):
    """End-to-end minhash_lsh_pairs over the planted boilerplate corpus
    must equal the brute-force exact-Jaccard pair set (every pair here
    shares the boilerplate; the threshold decides)."""
    rows = _planted_rows(40)
    docs = _docs(spark, rows)
    got = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    sets = {i: _shingle_set(t) for i, _, t in rows}
    sigs = {
        r["doc_id"]: [r[f"sig_{i}"] for i in range(dedup._MINHASH_K)]
        for r in dedup.minhash_signatures(docs).collect()
    }
    # replicate LSH banding to know the candidate population
    def bands(s):
        return {
            (b, tuple(s[b * dedup._LSH_ROWS : (b + 1) * dedup._LSH_ROWS]))
            for b in range(dedup._LSH_BANDS)
        }

    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        if not bands(sigs[a]) & bands(sigs[b]):
            continue
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= dedup._NEARDUP_THRESHOLD:
            expected.add((a, b))
    assert got == expected and len(expected) > 0


def test_rare_self_join_input_shrinks(spark):
    """The point of the guard: the self-join's input (rare-shingle rows)
    must be a small fraction of the full shingle frame on a
    boilerplate-dominated corpus."""
    docs = _docs(spark, _planted_rows())
    sh = dedup._shingle_rows(docs)
    total = sh.count()
    common = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > dedup._JACCARD_DF_CUT)
        .select("shingle")
    )
    rare = sh.join(common, "shingle", "left_anti").count()
    # boilerplate shingles (df=40) dominate: >80% of join input removed
    assert rare < 0.2 * total


def test_candidate_shared_arrays_matches_guarded_counts(spark):
    """r18 verify-leg rework: ``_candidate_shared_arrays`` (per-doc shingle
    arrays + array_intersect, no shingle-keyed join) must reproduce the
    guarded self-join's shared counts bit-for-bit AND carry the exact
    per-doc distinct-shingle sizes, on the planted boilerplate corpus
    where hot shingles dominate."""
    docs = _docs(spark, _planted_rows())
    ids = [r[0] for r in docs.select("doc_id").collect()]
    cand = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(sorted(ids), 2)],
        "doc_id_1 bigint, doc_id_2 bigint",
    )
    sh = dedup._shingle_rows(docs)
    old = {
        (r["doc_id_1"], r["doc_id_2"]): r["shared"]
        for r in dedup._candidate_shared_counts(sh, cand).collect()
    }
    new = {
        (r["doc_id_1"], r["doc_id_2"]): (r["shared"], r["n1"], r["n2"])
        for r in dedup._candidate_shared_arrays(docs, cand).collect()
    }
    sizes = {r["doc_id"]: r["n"] for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert set(new) == set(old)
    for k, (shared, n1, n2) in new.items():
        assert shared == old[k], k
        assert n1 == sizes[k[0]] and n2 == sizes[k[1]], k
    # python recomputation as the independent oracle
    texts = {i: t for i, _, t in _planted_rows()}
    for (a, b), (shared, n1, n2) in new.items():
        assert shared == len(_shingle_set(texts[a]) & _shingle_set(texts[b]))
        assert n1 == len(_shingle_set(texts[a])) and n2 == len(_shingle_set(texts[b]))

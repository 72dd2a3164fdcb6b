"""Skew/bucketing operator tests: salting preserves join semantics, bucketed
tables join without a shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_data_warehouse_and_analytics_project_spark.materialize import released
from sql_data_warehouse_and_analytics_project_spark.operators import skew
from sql_data_warehouse_and_analytics_project_spark.plans import audit
from sql_data_warehouse_and_analytics_project_spark.sources import tpch

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_plain_join(spark, how):
    orders = tpch.load(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    customer = tpch.load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(customer, "o_custkey", how)
    salted = skew.salted_join(orders, customer, "o_custkey", how, n_salts=7)
    assert _rows(salted) == _rows(plain)


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "x")], "k int, v string")
    right = spark.createDataFrame([(1, "A"), (2, "B")], "k int, w string")
    got = skew.salted_join(left, right, "k", "left", n_salts=4)
    assert got.count() == 3
    assert got.filter("k = 99").first()["w"] is None


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}'")
    try:
        orders = tpch.load(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
        customer = tpch.load(spark, SF_DIR, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        skew.write_bucketed(orders, "bucketdb.orders_b", "o_custkey", n_buckets=8)
        skew.write_bucketed(customer, "bucketdb.customer_b", "o_custkey", n_buckets=8)
        joined = skew.co_located_join(spark, "bucketdb.orders_b", "bucketdb.customer_b", "o_custkey")
        plan = audit.executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert audit.data_shuffle_count(plan) == 0, plan
        # and it still computes the right thing
        assert joined.count() == orders.join(customer, "o_custkey").count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


# --- shingle df-cut skew guard (VERDICT r01 scale-killer #2) -----------------


def _stopword_corpus(spark, n_docs=100):
    """Every doc shares one stopword 3-gram ('aaa bbb ccc'); all other
    shingles are unique per doc. The uncut self-join would materialize
    n·(n−1)/2 pairs in ONE reducer for that shingle."""
    rows = [(i, "en", f"aaa bbb ccc u{i} v{i} w{i}") for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id bigint, lang string, text string")


def test_df_cut_bounds_candidate_pairs(spark):
    from sql_data_warehouse_and_analytics_project_spark.operators.dedup import (
        ngram_jaccard_candidates,
    )

    docs = _stopword_corpus(spark)
    with released():
        # uncut: the stopword shingle alone fans out to 4950 candidate pairs
        uncut = ngram_jaccard_candidates(docs, df_cut=10**9).count()
        assert uncut == 100 * 99 // 2
        # with the df cut the hot shingle is excluded from the join entirely
        assert ngram_jaccard_candidates(docs).count() == 0


def test_df_cut_keeps_exact_shared_counts(spark):
    """A true near-dup pair whose overlap INCLUDES a stopword shingle must
    still be found, with the common shingle counted in shared/jaccard
    (the array_intersect add-back path)."""
    from sql_data_warehouse_and_analytics_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = _stopword_corpus(spark).unionByName(
        spark.createDataFrame(
            [
                (1001, "en", "aaa bbb ccc d e f g h i j k zz1"),
                (1002, "en", "aaa bbb ccc d e f g h i j k zz2"),
            ],
            "doc_id bigint, lang string, text string",
        )
    )
    with released():
        out = {(r["doc_id_1"], r["doc_id_2"]): r for r in ngram_jaccard_pairs(docs).collect()}
    assert set(out) == {(1001, 1002)}
    r = out[(1001, 1002)]
    # 10 shingles each, 9 shared (8 rare + the df-cut 'aaa bbb ccc')
    assert r["shared_shingles"] == 9
    assert abs(r["jaccard"] - 9 / 11) < 1e-12


# --- LSH hot-bucket guards (VERDICT r03 scale-killer #2) ---------------------


def test_exact_dup_collapse_bounds_lsh_candidates(spark):
    """1000 identical docs must NOT detonate a band bucket: the exact-dup
    collapse reduces them to ONE signature row, so the candidate stage sees
    nothing, while the expanded OUTPUT still contains every member pair at
    jaccard 1.0 (the quadratic output is the requested result, not a shuffle
    hazard)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        token_dedup_members,
    )

    n = 1000
    rows = [(i, "en", "the same boilerplate page body repeated verbatim") for i in range(n)]
    rows.append((5000, "en", "a completely different document about ships and stars"))
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")

    mem = token_dedup_members(docs)
    reps = mem.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id", "lang", "text")
    # the signature/band/candidate pipeline runs over 2 reps, not 1001 docs
    assert reps.count() == 2
    assert minhash_signatures(reps).count() == 2

    with released():
        out = minhash_lsh_pairs(docs)
        assert out.count() == n * (n - 1) // 2
        assert out.filter(F.col("jaccard") < 1.0).count() == 0


def test_lsh_bucket_cap_is_deterministic_and_audited(spark):
    """A hot bucket of DISTINCT docs is capped at the K smallest doc_ids
    (deterministic — the DuckDB oracle replays it) and surfaced by the
    overflow audit (no-silent-caps)."""
    from sql_data_warehouse_and_analytics_project_spark.operators.dedup import (
        _cap_buckets,
        lsh_bucket_overflow,
    )

    hot = [(i, 0, "hot") for i in range(200)]
    cold = [(i, 1, "cold") for i in range(5)]
    bands = spark.createDataFrame(hot + cold, "doc_id bigint, band int, bucket string")

    capped = _cap_buckets(bands, cap=64)
    kept_hot = sorted(r["doc_id"] for r in capped.filter("bucket = 'hot'").collect())
    assert kept_hot == list(range(64))  # smallest doc_ids win
    assert capped.filter("bucket = 'cold'").count() == 5

    overflow = lsh_bucket_overflow(bands, cap=64).collect()
    assert [(r["band"], r["bucket"], r["n_docs"]) for r in overflow] == [(0, "hot", 200)]

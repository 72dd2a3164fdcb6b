"""Release scopes and lineage cuts (``materialize.py``).

A scope unpersists every frame ``cached()`` registers inside it, on normal
exit and when the block raises; nested scopes release only their own
frames; outside a scope a cached frame stays cached for the session. Every
registry query that caches intermediates must leave the cache manager
empty, both when it returns and after its result is consumed. Every eager
checkpoint job is described by its pipeline step, and the caller's job
description and group survive the cut. A row count taken with
``counted`` rides the checkpoint job and adds none of its own.
"""

from __future__ import annotations

import threading

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR, group_jobs, jobs_run_by

from sql_data_warehouse_and_analytics_project_spark.materialize import (
    cached,
    checkpoint,
    counted,
    materialized,
    missing_rows,
    released,
)
from sql_data_warehouse_and_analytics_project_spark.registry import all_queries
from sql_data_warehouse_and_analytics_project_spark.sources.local import local_frame


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_scope_releases_on_normal_exit(spark):
    spark.catalog.clearCache()
    with released():
        df = cached(spark.range(11))
        assert df.count() == 11
        assert not _cache_empty(spark)
    assert _cache_empty(spark)


def test_scope_releases_when_block_raises(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="boom"):
        with released():
            cached(spark.range(12)).count()
            raise RuntimeError("boom")
    assert _cache_empty(spark)


def test_inner_scope_releases_only_its_own_frames(spark):
    spark.catalog.clearCache()
    with released():
        outer = cached(spark.range(13))
        with released():
            inner = cached(spark.range(14))
            assert _is_cached(outer) and _is_cached(inner)
        assert _is_cached(outer)
        assert not _is_cached(inner)
    assert _cache_empty(spark)


def test_cached_outside_a_scope_stays_cached(spark):
    spark.catalog.clearCache()
    df = cached(spark.range(15))
    assert _is_cached(df)
    spark.catalog.clearCache()


def test_scope_does_not_reach_other_threads(spark):
    """The streaming sink's foreachBatch runs on its own thread: a scope
    open on this thread must not capture (and release) that thread's
    frames."""
    spark.catalog.clearCache()
    box = []
    with released():
        t = threading.Thread(target=lambda: box.append(cached(spark.range(17))))
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    assert _is_cached(box[0])
    spark.catalog.clearCache()


def test_materialized_checkpoints_releases_and_sorts(spark):
    spark.catalog.clearCache()
    out = materialized(
        lambda: cached(spark.range(16)).selectExpr("15 - id AS x"), "test", order=["x"]
    )
    assert _cache_empty(spark)
    assert [r["x"] for r in out.collect()] == list(range(16))


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_methods_ari",
        "split_leakage_audit",
        "dedup_component_cohesion",
        "curation_drop_reasons",
        "cluster_kmeans_fixed",
        "graph_pagerank_trade",
    ],
)
def test_registry_query_leaves_no_cache(spark, name):
    spark.catalog.clearCache()
    df = all_queries()[name].fn(spark, SF_DIR)
    assert _cache_empty(spark)
    df.count()
    assert _cache_empty(spark)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_image_phash",
        "dedup_cdc_chunks",
        "olap_abc_parts",
        "warehouse_incremental_rollup",
    ],
)
def test_checkpoint_jobs_carry_their_step_name(spark, name):
    sc = spark.sparkContext
    group = f"materialize-test|{name}"
    sc.setJobGroup(group, group)
    try:
        before = [sc.getLocalProperty(k) for k in ("spark.job.description", "spark.jobGroup.id")]
        all_queries()[name].fn(spark, SF_DIR).count()
        after = [sc.getLocalProperty(k) for k in ("spark.job.description", "spark.jobGroup.id")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before == [group, group]
    jobs = group_jobs(spark, group)
    cuts = [desc for site, desc in jobs if site.startswith("localCheckpoint at")]
    assert cuts, f"{name} ran no checkpoint job"
    assert all(d and d != group for d in cuts), cuts


@pytest.mark.parametrize("name", ["graph_kcore_copurchase", "dedup_components"])
def test_fixpoint_loops_run_only_named_jobs(spark, name):
    """The driver loops read their convergence scalar from the round's
    checkpoint job: every job the build runs is a named cut, none is a
    bare count under the caller's description."""
    _, jobs = jobs_run_by(spark, lambda: all_queries()[name].fn(spark, SF_DIR))
    assert jobs, f"{name} ran no job"
    bare = [site for site, desc in jobs if ":" not in desc]
    assert not bare, bare


def _aggregate(spark):
    return spark.range(100).groupBy((F.col("id") % 7).alias("k")).agg(F.count(F.lit(1)).alias("n"))


@pytest.mark.parametrize(
    "frame, rows",
    [
        (_aggregate, 7),
        (lambda spark: local_frame(spark, [], "k bigint"), 0),
        (lambda spark: spark.range(10).filter(F.lit(False)), 0),
    ],
    ids=["shuffled_aggregate", "empty_local", "folded_empty"],
)
def test_counted_checkpoint_counts_rows(spark, frame, rows):
    cut, n = counted(frame(spark), lambda d: checkpoint(d, "test:counted"))
    assert n == rows
    assert cut.count() == rows


def test_counted_where_counts_matching_rows(spark):
    _, n = counted(_aggregate(spark), lambda d: checkpoint(d, "test:counted"), where=F.col("k") < 3)
    assert n == 3


def test_counted_checkpoint_runs_no_extra_job(spark):
    _, plain = jobs_run_by(spark, lambda: checkpoint(_aggregate(spark), "test:plain"))
    _, observed = jobs_run_by(
        spark, lambda: counted(_aggregate(spark), lambda d: checkpoint(d, "test:counted"))
    )
    assert len(observed) == len(plain), (observed, plain)


def test_missing_rows_absent_path_returns_the_frame(spark, tmp_path):
    df = spark.range(3).withColumnRenamed("id", "k")
    assert missing_rows(df, str(tmp_path / "t"), "k") is df


def test_missing_rows_fully_stored_batch_is_none(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(4).withColumnRenamed("id", "k")
    df.write.parquet(path)
    files = sorted(p.name for p in (tmp_path / "t").iterdir())
    assert missing_rows(df, path, "k") is None
    assert sorted(p.name for p in (tmp_path / "t").iterdir()) == files


def test_missing_rows_partly_stored_batch_keeps_missing_keys(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(2).withColumnRenamed("id", "k").write.parquet(path)
    batch = spark.range(5).selectExpr("id AS k", "id * 10 AS v")
    out = missing_rows(batch, path, "k")
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [(2, 20), (3, 30), (4, 40)]

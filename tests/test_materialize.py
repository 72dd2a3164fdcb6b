"""Release scopes and lineage cuts (``materialize.py``).

A scope unpersists every frame ``cached()`` registers inside it, on normal
exit and when the block raises; nested scopes release only their own
frames; outside a scope a cached frame stays cached for the session. Every
registry query that caches intermediates must leave the cache manager
empty, both when it returns and after its result is consumed. Every eager
checkpoint job is described by its pipeline step, and the caller's job
description and group survive the cut.
"""

from __future__ import annotations

import threading

import pytest

from conftest import SF_DIR

from sql_data_warehouse_and_analytics_project_spark.materialize import (
    cached,
    materialized,
    missing_rows,
    released,
)
from sql_data_warehouse_and_analytics_project_spark.registry import all_queries


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


def _group_jobs(spark, group: str) -> list:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            desc = job.description().get() if job.description().isDefined() else ""
            out.append((job.name(), desc))
    return out


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
    jobs = _group_jobs(spark, group)
    cuts = [desc for site, desc in jobs if site.startswith("localCheckpoint at")]
    assert cuts, f"{name} ran no checkpoint job"
    assert all(d and d != group for d in cuts), cuts


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

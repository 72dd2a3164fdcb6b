"""Physical-plan regression tests (SURVEY §4; the 100 TB design gate).

Correctness tests can't see a plan regression — a query that silently flips
a broadcast join to sort-merge, or re-reads all 16 lineitem columns for a
4-column aggregate, still returns the right rows at sf0.001. These tests pin
the plan properties that decide whether the same code survives a 1000×
scale-up."""

from __future__ import annotations

import pytest


from sql_data_warehouse_and_analytics_project_spark import analytics
from sql_data_warehouse_and_analytics_project_spark.materialize import released
from sql_data_warehouse_and_analytics_project_spark.plans import audit
from sql_data_warehouse_and_analytics_project_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"

# Queries whose joins must all be broadcast (fact × small dims).
BROADCAST_ONLY = [
    analytics.q05_magnitude_by_nation,
    analytics.q05_magnitude_by_segment,
    analytics.q06_top10_customers,
    lambda s, d: all_queries()["q09_performance_yoy"].fn(s, d),
    lambda s, d: all_queries()["q11_part_to_whole_region"].fn(s, d),
    lambda s, d: all_queries()["q12_report_customers"].fn(s, d),
    lambda s, d: all_queries()["q13_report_products"].fn(s, d),
]


@pytest.mark.parametrize("fn", BROADCAST_ONLY)
def test_dim_joins_broadcast(spark, fn):
    df = fn(spark, SF_DIR)
    audit.assert_no_shuffle_joins(df)


def test_q05_lineitem_scan_pruned(spark):
    """The revenue-by-nation aggregate needs 4 lineitem columns; the scan
    must not read the full 16-column table."""
    df = analytics.q05_magnitude_by_nation(spark, SF_DIR)
    audit.assert_column_pruned(df, widest_allowed=4)


def test_q05_filters_pushed(spark):
    plan = audit.formatted_plan(analytics.q05_magnitude_by_nation(spark, SF_DIR))
    assert audit.pushed_filters(plan), "join-key null filters should push to scans"


def test_q08_shuffle_budget(spark):
    """Cumulative revenue: one aggregation shuffle + one global-window sort.
    More means a refactor added an unnecessary repartition."""
    df = all_queries()["q08_cumulative_revenue"].fn(spark, SF_DIR)
    assert audit.data_shuffle_count(audit.executed_plan(df)) <= 2


def test_q05_shuffle_budget(spark):
    """r18 two-level plan: order-grain agg + customer rollup + nation agg
    + final sort — at most 4 data shuffles, each carrying one narrow row
    per key, and NO Expand (the old flat plan's two COUNT(DISTINCT)s
    tripled every joined fact row through its aggregation exchange)."""
    df = analytics.q05_magnitude_by_nation(spark, SF_DIR)
    plan = audit.executed_plan(df)
    assert audit.data_shuffle_count(plan) <= 4
    assert "Expand" not in plan


def test_gold_surrogate_scale_mode_no_single_partition_exchange(spark):
    """load_gold defaults to the distributed surrogate-key mode: the dim
    build plan must not contain a single-partition Exchange (the parity
    global window does — sanity-checked here so the assertion stays
    meaningful)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.warehouse.gold import surrogate_key

    df = spark.range(0, 10_000).select((F.col("id") * 37 % 10_000).alias("k"))
    scale_plan = surrogate_key(df, "k", "scale")._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in scale_plan
    parity_plan = surrogate_key(df, "k", "parity")._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in parity_plan


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Bucketed+sorted tables joined on the bucket key: SortMergeJoin with
    ZERO exchanges and ZERO sorts — the write-once/join-free-forever layout
    for fact⨝fact joins (warehouse/bucketing.py)."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse import bucketing

    o_tbl, l_tbl = bucketing.bucket_order_tables(spark, SF_DIR, str(tmp_path / "bkt"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_ord = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # exploit the sortBy metadata (safe: write_bucketed guarantees one
        # file per bucket, the precondition that made this default-off)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            df = bucketing.bucketed_order_revenue(spark, o_tbl, l_tbl)
            n = df.count()
            plan = audit.executed_plan(df)
            assert audit.data_shuffle_count(plan) == 0, plan
            assert "SortMergeJoin" in plan, plan
            assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan
            # same rows as the unbucketed join
            li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            assert n == li.filter("l_orderkey IS NOT NULL").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prev_ord)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {l_tbl}")


def test_compact_parquet_file_count(spark, tmp_path):
    """Compaction folds a many-small-files table into ~target-sized files
    without a shuffle."""
    from sql_data_warehouse_and_analytics_project_spark.warehouse import bucketing

    src = str(tmp_path / "frag")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").repartition(64).write.parquet(src)
    import os

    n_src = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_src >= 32
    dst = str(tmp_path / "compacted")
    n_out = bucketing.compact_parquet(spark, src, dst, target_file_mb=128)
    n_dst = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_dst == n_out <= 2
    assert (
        spark.read.parquet(dst).count()
        == spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    )


def test_gold_fact_partition_pruning(spark, tmp_path):
    """The gold fact is written partitionBy(order_year) (catalog.py /
    load_gold); a year-sliced read must prune at the DIRECTORY level —
    PartitionFilters on order_year, not a data filter over a full scan."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.warehouse.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    fact = spark.range(3000).select(
        F.col("id").alias("sls_ord_num"),
        (F.col("id") % 100).alias("sales_amount"),
        (2019 + F.col("id") % 4).cast("int").alias("order_year"),
    )
    cat.overwrite("gold.fact_sales", fact, partition_by=["order_year"])
    sliced = cat.read("gold.fact_sales").filter(F.col("order_year") == 2021)
    plan = audit.executed_plan(sliced)
    assert "PartitionFilters" in plan and "order_year" in plan.split("PartitionFilters")[1][:120], plan
    assert sliced.count() == 750


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """AQE skew-join (tool #1 in operators/skew.py): a hot key that melts
    one reducer is split at runtime into multiple tasks — asserted via
    'skew=true' on the SortMergeJoin in the finalized adaptive plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key (0) with ~100k rows, 99 cold keys with ~1k each
        left = spark.range(200_000).select(
            F.when(F.col("id") < 100_000, 0).otherwise(F.col("id") % 99 + 1).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("v"),
        )
        right = spark.range(100).select(F.col("id").alias("k"), F.lit("dim").alias("w"))
        joined = left.join(right, "k")
        joined.collect()  # finalize the adaptive plan on THIS DataFrame
        plan = audit.executed_plan(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_signature_pipelines_have_no_explode_or_keyed_shuffle(spark):
    """minhash/simhash signatures are per-doc array-HOF projections: no
    Generate (explode) node and no hash/range exchange — only the
    round-robin spread for scan parallelism. Pins the round-2 rewrite."""
    from sql_data_warehouse_and_analytics_project_spark.operators import dedup

    docs = dedup._docs(spark, SF_DIR)
    for sig_fn in (dedup.minhash_signatures, dedup.simhash_signatures):
        plan = audit.executed_plan(sig_fn(docs))
        assert "Generate" not in plan, plan
        assert audit.data_shuffle_count(plan) == 0, plan


def test_gopher_filter_is_shuffle_free_projection(spark):
    """text_quality_gopher is a narrow per-doc HOF projection: no Generate,
    and the only exchange is the final display ORDER BY's range partitioning
    — nothing shuffles by key before the metrics exist (r4)."""
    from sql_data_warehouse_and_analytics_project_spark.registry import all_queries

    plan = audit.executed_plan(all_queries()["text_quality_gopher"].fn(spark, SF_DIR))
    assert "Generate" not in plan, plan
    assert audit.data_shuffle_count(plan) <= 1, plan  # ORDER BY only


def test_decontaminate_broadcasts_eval_side(spark):
    """text_decontaminate must probe the corpus n-grams against a BROADCAST
    eval-set — a sort-merge/shuffled-hash join here would shuffle the whole
    exploded corpus at 100 TB (r4). Post-join shuffles (tiny bench distinct,
    post-filter hit counts, display sort) are bounded by the eval overlap,
    not the corpus."""
    from sql_data_warehouse_and_analytics_project_spark.registry import all_queries

    plan = audit.executed_plan(all_queries()["text_decontaminate"].fn(spark, SF_DIR))
    counts = audit.join_counts(plan)
    assert counts["broadcast"] >= 1, plan
    assert counts["sort_merge"] == 0 and counts["shuffled_hash"] == 0, plan
    assert audit.data_shuffle_count(plan) <= 3, plan


def test_scan_pruning_columns_and_pushed_filters(spark):
    """Column pruning and predicate pushdown must reach the parquet scans
    (r4): gopher reads exactly (doc_id, text) of documents' 5 columns, no
    q05 lineitem scan reads more than 4 of its 11 columns, and the
    etl_filter_suite watermark predicate appears in PushedFilters — a scan
    reading everything for a narrow projection is wrong at any scale."""
    from sql_data_warehouse_and_analytics_project_spark.registry import all_queries

    qs = all_queries()
    plan = audit.executed_plan(qs["text_quality_gopher"].fn(spark, SF_DIR))
    cols = audit.scan_columns(plan)
    assert cols and all(set(c) == {"doc_id", "text"} for c in cols), cols

    plan5 = audit.executed_plan(qs["q05_magnitude"].fn(spark, SF_DIR))
    li_scans = [c for c in audit.scan_columns(plan5) if any(x.startswith("l_") for x in c)]
    assert li_scans and all(len(c) <= 4 for c in li_scans), li_scans

    planf = audit.executed_plan(qs["etl_filter_suite"].fn(spark, SF_DIR))
    assert any("o_orderdate" in f for f in audit.pushed_filters(planf)), (
        audit.pushed_filters(planf)
    )


def test_token_dedup_members_partial_agg_no_window(spark):
    """The exact-dup collapse computes rep_id via a partial-aggregating
    groupBy over narrow (tkey, doc_id) rows — never a Window over the
    content key, which would ship every member row (text included) to one
    reducer per hot key (VERDICT r05 #1). Fails if the window form is
    reintroduced: 'windowspecdefinition' / WindowExec reappear and the
    partial_min stage vanishes."""
    from sql_data_warehouse_and_analytics_project_spark.operators import dedup

    m = dedup.token_dedup_members(dedup._docs(spark, SF_DIR))
    plan = audit.executed_plan(m)
    assert "windowspecdefinition" not in plan, plan
    assert "partial_min" in plan, plan
    counts = audit.physical_node_counts(m)
    assert counts.get("WindowExec", 0) == 0, counts
    assert counts.get("WindowGroupLimitExec", 0) == 0, counts


def test_jaccard_pipeline_no_window_single_corpus_explode(spark):
    """ngram_jaccard_pairs: document frequency is a partial-agg groupBy (no
    Window over the shingle key), and the corpus shingle-explode happens
    exactly once — every GenerateExec lives inside the cached shingle frame
    (a leaf InMemoryTableScan in the physical tree), shared by candidate
    generation and the per-doc sizes aggregate (VERDICT r05 #2)."""
    from sql_data_warehouse_and_analytics_project_spark.operators import dedup

    with released():
        jp = dedup.ngram_jaccard_pairs(dedup._docs(spark, SF_DIR))
        jp.count()
        counts = audit.physical_node_counts(jp)
        assert counts.get("WindowExec", 0) == 0, counts
        # zero Generate OUTSIDE the cache: the only explodes run once, at
        # cache materialization
        assert counts.get("GenerateExec", 0) == 0, counts
        assert counts.get("InMemoryTableScanExec", 0) >= 2, counts


def test_planted_identical_docs_hot_key_bounded(spark):
    """1,000 byte-identical copies of a boilerplate page + 8 distinct docs:
    the collapse must (a) be correct — one representative, every copy mapped
    to it — and (b) reduce the hot key MAP-SIDE: the partial aggregate's
    output (what actually crosses the tkey shuffle) is O(distinct keys ×
    map tasks), far below the 1,000-row member set a Window would shuffle."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.range(1008).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.when(F.col("id") < 1000, F.lit(base))
        .otherwise(
            F.concat(
                F.lit("unique document number "),
                F.col("id"),
                F.lit(" with its own words entirely"),
            )
        )
        .alias("text"),
    )
    m = dedup.token_dedup_members(docs)
    rows = m.collect()
    assert len(rows) == 1008
    hot = [r for r in rows if r.text == base]
    assert len(hot) == 1000 and all(r.rep_id == 0 for r in hot)
    assert all(r.rep_id == r.doc_id for r in rows if r.text != base)

    partial_rows = [
        audit.node_metrics(n).get("numOutputRows", 0)
        for name, n in audit.physical_tree(m)
        if name == "HashAggregateExec" and "partial_min" in n.simpleString(10)
    ]
    # 9 distinct content keys × ≤(map tasks) rows cross the shuffle; task
    # count tracks the machine's core count, not a fixed 32
    n_tasks = spark.sparkContext.defaultParallelism
    assert partial_rows and max(partial_rows) <= 9 * n_tasks, partial_rows
    assert max(partial_rows) < 1000, partial_rows

    # downstream: the LSH pipeline sees ONE signature row for the hot key
    # and expands back to all C(1000,2) member pairs bit-identically
    with released():
        n_pairs = dedup.minhash_lsh_pairs(docs).count()
    assert n_pairs == 1000 * 999 // 2


def test_zorder_clustering_prunes_row_groups(spark, tmp_path):
    """Z-order layout proof (VERDICT r05 #7): the same 2-D fact written
    round-robin vs Z-ordered on (a, b). A small 2-D box predicate must
    overlap STRICTLY fewer parquet row groups in the Z-ordered layout —
    measured from the footer min/max stats, i.e. exactly the skipping
    decision a stats-aware reader makes — while both layouts return the
    same rows, and the box predicate reaches the scan as PushedFilters."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.warehouse import bucketing

    n = 200_000
    df = spark.range(n).select(
        ((F.col("id") * 48271) % 10_000).alias("a"),
        ((F.col("id") * 16807) % 10_000).alias("b"),
        F.col("id").alias("payload"),
    )
    flat, zed = str(tmp_path / "flat"), str(tmp_path / "zed")
    df.repartition(16).write.parquet(flat)
    bucketing.write_zordered(df, zed, ["a", "b"], n_files=16)

    box = {"a": (1000, 1999), "b": (5000, 5999)}
    flat_hit, flat_total = bucketing.row_groups_overlapping(flat, box)
    zed_hit, zed_total = bucketing.row_groups_overlapping(zed, box)
    assert flat_total >= 16 and zed_total >= 16
    assert zed_hit < flat_hit, (zed_hit, flat_hit)
    # a 1% × 1% box should touch a small corner of the curve, not half of it
    assert zed_hit <= zed_total // 4, (zed_hit, zed_total)

    pred = (
        (F.col("a") >= 1000) & (F.col("a") <= 1999)
        & (F.col("b") >= 5000) & (F.col("b") <= 5999)
    )
    sliced = spark.read.parquet(zed).filter(pred)
    plan = audit.formatted_plan(sliced)
    pushed = " ".join(audit.pushed_filters(plan))
    assert "GreaterThanOrEqual(a," in pushed and "LessThanOrEqual(b," in pushed, pushed
    assert sliced.count() == spark.read.parquet(flat).filter(pred).count()


def test_phash_pipeline_collapse_partial_agg_no_content_window(spark):
    """dedup_image_phash's exact-collapse mirrors token_dedup_members: rep
    assignment is a partial-agg groupBy over narrow (phash, media_id) rows
    plus a rejoin — the only Window in the plan is the deterministic
    band-bucket cap over already-collapsed narrow rows (bounded output by
    construction), never a window over the content hash itself."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import multimodal as mm

    sigs = spark.range(200).select(
        F.col("id").alias("media_id"), (F.col("id") % 7).alias("phash")
    )
    pairs = mm.phash_pairs(sigs)
    plan = audit.executed_plan(pairs)
    assert "partial_min" in plan, plan
    # no windowspec partitioned by the content hash; the bucket-cap window
    # partitions by (band, bucket)
    assert "windowspecdefinition(phash" not in plan, plan
    assert "windowspecdefinition(band" in plan, plan


def test_lsh_bucket_cap_uses_window_group_limit_pushdown(spark):
    """The deterministic band-bucket cap must keep Catalyst's
    WindowGroupLimit pushdown: a Partial group-limit BEFORE the exchange
    pre-trims every map task's slice of a hot bucket to the cap, so the
    reducer sees O(cap × map_tasks) narrow rows — the property that makes
    the window formulation acceptable at 100 TB. Fails if a refactor
    (extra columns in the sort, a different rank function) silently drops
    the pushdown."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import dedup

    bands = spark.range(10_000).select(
        (F.col("id") % 7).alias("band"),
        (F.col("id") % 13).cast("string").alias("bucket"),
        F.col("id").alias("doc_id"),
    )
    plan = audit.executed_plan(dedup._cap_buckets(bands, 64))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1] or ", Partial" in plan, plan


def test_packing_and_mix_plan_shapes(spark):
    """r6 last-mile ops keep their promised plans.

    - vocab_top_terms: ordered LIMIT compiles to TakeOrderedAndProject (only
      k rows reach the driver), no window, no join.
    - mix_lang_resample: membership is decided by a broadcast-joined rate +
      scan-side hash filter — no sort-merge/shuffled-hash join, no window;
      the only key shuffles are the KB-sized stratum-count aggregate and the
      final presentation sort.
    - pack_token_chunks: exactly one running-sum window over the hash lanes
      and no join; shuffles = the lane hash-partition + presentation sort."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["vocab_top_terms"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert sum(audit.join_counts(plan).values()) == 0, plan

    df = qs["mix_lang_resample"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    counts = audit.join_counts(plan)
    assert counts["sort_merge"] == 0 and counts["shuffled_hash"] == 0, plan
    assert counts["broadcast"] + counts["nested_loop"] >= 1, plan
    assert "Window" not in plan, plan
    assert audit.data_shuffle_count(plan) <= 2, plan

    df = qs["pack_token_chunks"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert plan.count("Window") == 1, plan
    assert sum(audit.join_counts(plan).values()) == 0, plan
    assert audit.data_shuffle_count(plan) == 2, plan


def test_composition_plan_shapes(spark):
    """r7 composition ops keep their promised plans.

    - curation_source_cap: the per-source rank cap must keep the
      WindowGroupLimit pushdown (Partial group-limit before the exchange)
      so a hot source is pre-trimmed per map task, never one reducer's
      whole input.
    - quality_length_decile: decile assignment is a broadcast threshold
      row — NO window anywhere (the ntile formulation this op exists to
      avoid would be a single-partition sort of the corpus).
    - training_epoch_shuffle: exactly one window (the per-shard position),
      no joins — shard assignment is a pure hash row function."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["curation_source_cap"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    assert sum(audit.join_counts(plan).values()) == 0, plan

    df = qs["quality_length_decile"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan
    counts = audit.join_counts(plan)
    assert counts["sort_merge"] == 0 and counts["shuffled_hash"] == 0, plan
    assert counts["broadcast"] + counts["nested_loop"] >= 1, plan

    df = qs["training_epoch_shuffle"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert plan.count("Window") == 1, plan
    assert sum(audit.join_counts(plan).values()) == 0, plan


def test_retrieval_plan_shapes(spark):
    """r7 retrieval ops keep their promised plans.

    - text_chunk_sliding: pure projection + sequence-explode — no joins, no
      windows, and the only exchange is the presentation sort.
    - text_bm25_topk: corpus stats arrive by broadcast (no keyed shuffle of
      the scored frame) and the ranked cut compiles to
      TakeOrderedAndProject, so only k rows reach the driver."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["text_chunk_sliding"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert sum(audit.join_counts(plan).values()) == 0, plan
    assert "Window" not in plan, plan
    assert audit.data_shuffle_count(plan) <= 1, plan  # presentation sort only

    df = qs["text_bm25_topk"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    counts = audit.join_counts(plan)
    assert counts["sort_merge"] == 0 and counts["shuffled_hash"] == 0, plan


def test_knn_join_plan_broadcast_and_group_limit(spark):
    """ann_knn_join: the query side must broadcast (no keyed shuffle of the
    scored expansion) and the per-query rank cut must keep WindowGroupLimit
    with a Partial pre-trim — the two properties that bound the reducer at
    corpus scale."""
    from conftest import SF_DIR

    df = all_queries()["ann_knn_join"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    counts = audit.join_counts(plan)
    assert counts["sort_merge"] == 0 and counts["shuffled_hash"] == 0, plan
    assert counts["broadcast"] + counts["nested_loop"] >= 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_span_dedup_plan_no_window(spark):
    """dedup_span_blocks: the first-occurrence winner must stay a
    partial-agg MIN (no window over block rows), and the rebuild must not
    introduce a sort-merge self-join of the full block table on doc_id —
    the properties that keep span dedup linear at corpus scale."""
    from conftest import SF_DIR

    df = all_queries()["dedup_span_blocks"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "Partial" in plan, plan


def test_novelty_and_fingerprint_plans_no_window(spark):
    """r7 corpus-analysis ops keep their promised plans.

    - text_ngram_novelty: df + per-doc rollup are partial-agg groupBys and
      the df join is 1-row-per-key — no window may appear.
    - dedup_source_fingerprints: the union-MinHash is ONE 64-min
      partial-agg groupBy to |sources| rows — no window, and the pairwise
      compare joins the tiny signature frame to itself (broadcast)."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["text_ngram_novelty"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan

    df = qs["dedup_source_fingerprints"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan
    counts = audit.join_counts(plan)
    assert counts["sort_merge"] == 0 and counts["shuffled_hash"] == 0, plan


def test_rescore_triplets_plan_broadcasts_signatures(spark):
    """rescore_triplets (r11): the three signature joins must broadcast the
    semi-joined signature side — the triplet frame is never shuffled by
    doc id, and the corpus text is scanned only for the signature build."""
    from conftest import SF_DIR

    from sql_data_warehouse_and_analytics_project_spark.operators import similarity as sim
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    trip = sim.contrastive_triplets(tpch.load(spark, SF_DIR, "embeddings"))
    docs = tpch.load(spark, SF_DIR, "documents")
    plan = audit.executed_plan(sim.rescore_triplets(trip, docs))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_logprob_plan_broadcast_model(spark):
    """bigram_logprob (r11): the model side (vocab map + two logprob maps)
    must reach the corpus via broadcast — the document scan is never
    shuffled by token or joined sort-merge; the only exchanges are the two
    narrow model groupBys."""
    from conftest import SF_DIR

    from sql_data_warehouse_and_analytics_project_spark.operators.text import bigram_logprob
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    plan = audit.executed_plan(bigram_logprob(tpch.load(spark, SF_DIR, "documents")))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row model crossJoins


def test_cdc_and_pmi_plans_no_window_no_self_join(spark):
    """r11 corpus-analysis ops keep their promised plans.

    - dedup_cdc_chunks: boundary detection is a per-row array expression
      and the dup stats are an occurrence groupBy + 1-row-per-key join —
      no window, no sort-merge self-join of the chunk table.
    - text_pmi_cooccur: pair extraction is two shifted zips per row (no
      self-join of the token table, no window); the totals enter via a
      broadcast cross of one row."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["dedup_cdc_chunks"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan

    df = qs["text_pmi_cooccur"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_iterative_family_plans_stay_bounded(spark):
    """The hash-verified iterative family's per-round plans must not grow
    with the iteration count and must keep model state KB-sized:

    - lr: scoring under trained weights is one aggregation over the
      per-doc feature arrays — no join in the scoring plan (weights are
      an inlined literal array);
    - kmeans: the final assignment is a pure projection (literal
      centroid matrix) — no join, no window;
    - pagerank: ranks are localCheckpoint-ed per round, so the FINAL
      frame's plan contains at most one round's joins, not six rounds'."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from sql_data_warehouse_and_analytics_project_spark.operators import (
        kmeans as km,
        lr as lrm,
        pagerank as pr,
    )
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    docs = tpch.load(spark, SF_DIR, "documents")
    feats = lrm.hashed_features(docs, label=(F.col("lang") == "en"))
    scored = lrm.score_lr(feats, [0.1] * lrm._D)
    plan = audit.formatted_plan(scored)
    counts = audit.join_counts(plan)
    assert sum(counts.values()) == 0, plan  # literal weights: join-free scoring

    vecs = km._vecs(spark, SF_DIR)
    final = km.assign_final(vecs, [[0.0] * 64, [1.0] * 64])
    plan = audit.formatted_plan(final)
    assert sum(audit.join_counts(plan).values()) == 0, plan
    assert "Window" not in plan, plan

    edges = pr.trade_edges(
        tpch.load(spark, SF_DIR, "orders"), tpch.load(spark, SF_DIR, "lineitem")
    )
    ranks = pr.pagerank(edges, iters=6)
    plan = audit.formatted_plan(ranks)
    # localCheckpoint per round: the final plan hangs off a scan of the
    # checkpointed RDD, not a six-round join tower
    assert sum(audit.join_counts(plan).values()) == 0, plan


def test_bootstrap_jsd_profiler_plan_shapes(spark):
    """r11 tail operators keep their promised plans.

    - eval_bootstrap_mean_chars: the replica explode feeds ONE
      partial-aggregating groupBy — no window, no join of the exploded
      frame against anything;
    - corpus_jsd_sources: the only join is the per-term self-join whose
      fan-out is bounded by #sources per term — no window beyond none,
      no cartesian product;
    - warehouse_column_stats: ONE scan of orders (a single wide
      aggregate then an unpivot projection — no self-union of scans)."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["eval_bootstrap_mean_chars"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan

    df = qs["corpus_jsd_sources"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    df = qs["warehouse_column_stats"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    scans = plan.count("FileScan")
    assert scans == 1, f"expected one orders scan, plan has {scans}:\n{plan}"


def test_waterfill_and_quant_plan_shapes(spark):
    """r12 operators keep their promised plans.

    - mix_waterfill_chars: the corpus-sized work is ONE partial-
      aggregating groupBy(source); the window runs over the #sources-row
      aggregate only (no corpus-wide Window: every Window in the plan
      sits above the aggregate, whose input is the grouped frame);
    - embed_quant_calibrate: the per-dim bounds come back onto the
      exploded rows via a BROADCAST join — no sort-merge join, no
      window anywhere."""
    from conftest import SF_DIR

    qs = all_queries()

    df = qs["mix_waterfill_chars"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    df = qs["embed_quant_calibrate"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_winnow_plan_shapes(spark):
    """Winnowing (r12) keeps its promised plans: fingerprint selection is
    ONE narrow projection (zero Exchange — the 100 TB scan-speed claim),
    and the sketch-family plans (CMS build/probe) shuffle only sketch
    cells — the pair query's bucket cap keeps its WindowGroupLimit
    map-side pre-trim."""
    from conftest import SF_DIR

    from sql_data_warehouse_and_analytics_project_spark.operators import winnow
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    docs = tpch.load(spark, SF_DIR, "documents")
    fp = winnow.winnow_fingerprints(docs, spread=False)
    fp.count()
    plan = audit.executed_plan(fp)
    assert "Exchange" not in plan, plan

    qs = all_queries()
    df = qs["dedup_winnow_pairs"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan

    df = qs["eval_cms_heavy_hitters"].fn(spark, SF_DIR)
    df.count()
    plan = audit.executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan  # probe side broadcasts
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_join_injection(spark):
    """Runtime bloom-filter joins (r12): Spark's runtime-filter optimizer
    (on by default) injects a might_contain pre-filter on the fact side
    of a shuffle join once the size thresholds are met — at 100 TB a
    selectively-filtered dimension prunes fact shuffle input by orders of
    magnitude. Local testdata sits below the default 10 GB application-
    side threshold, so the pin lowers it for the assertion (and restores
    it), then checks result parity against the broadcast twin."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR

    thresh_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    old_thresh = spark.conf.get(thresh_key)
    old_bcast = spark.conf.get(bcast_key)
    try:
        spark.conf.set(thresh_key, "0")
        spark.conf.set(bcast_key, "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        od = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        got = j.first()
    finally:
        spark.conf.set(thresh_key, old_thresh)
        spark.conf.set(bcast_key, old_bcast)

    want = (
        li.join(F.broadcast(od), li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .first()
    )
    assert got == want, (got, want)


def test_late_r12_query_plan_budgets(spark):
    """Shuffle budgets + no-SMJ/no-Cartesian pins for the late-r12
    analytics queries: the customer/bar/sketch-grain work must never pull
    a corpus-sized sort-merge join or an unbounded shuffle count."""
    from conftest import SF_DIR

    budgets = {
        "olap_rfm_segmentation": 3,
        "events_ohlc_hourly": 3,
        "events_cohort_retention": 10,
        "events_active_users_sketch": 10,
        "embed_hash_text": 5,
        "curation_dq_checks": 3,
        "retrieval_tfidf_keywords": 8,
        "dedup_winnow_pairs": 6,
    }
    qs = all_queries()
    for name, budget in budgets.items():
        df = qs[name].fn(spark, SF_DIR)
        df.count()
        plan = audit.executed_plan(df)
        n = audit.data_shuffle_count(plan)
        assert n <= budget, (name, n, budget)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r13_query_plan_budgets(spark):
    """Shuffle budgets + no-SMJ pins for the r13 registered queries:
    ann_rp_topk is a pure projection (ZERO data shuffles — the broadcast
    query row doesn't count); the winnow index twin pays the fingerprint
    groupBys and the pair aggregation only."""
    from conftest import SF_DIR

    budgets = {
        "ann_rp_topk": 0,
        "dedup_winnow_index_hits": 6,
    }
    qs = all_queries()
    for name, budget in budgets.items():
        df = qs[name].fn(spark, SF_DIR)
        df.count()
        plan = audit.executed_plan(df)
        n = audit.data_shuffle_count(plan)
        assert n <= budget, (name, n, budget)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r15_query_plan_budgets(spark):
    """Plan pins for the r15 registered queries: no cartesian anywhere;
    the ER blocking join is an equi join on the variant key (never a
    name×name nested loop); the triangle census is equi-join-only; the
    permutation-PQ recall audit's LUT join and the skyline's global
    refine stay broadcast."""
    from conftest import SF_DIR

    qs = all_queries()
    for name in (
        "er_fuzzy_customer_pairs",
        "er_entity_clusters",
        "graph_triangle_count",
        "curation_pareto_front",
        "ann_opq_recall",
        "eval_cohens_kappa",
        "eval_conformal_coverage",
        "eval_information_value",
    ):
        df = qs[name].fn(spark, SF_DIR)
        df.count()
        plan = audit.executed_plan(df)
        assert "CartesianProduct" not in plan, name
    # the fuzzy-pair candidate join must be hash/broadcast equi on the
    # variant, not any nested-loop form
    from sql_data_warehouse_and_analytics_project_spark.operators.er import (
        er_fuzzy_customer_pairs,
    )

    plan = audit.executed_plan(er_fuzzy_customer_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan


def test_r16_query_plan_budgets(spark):
    """Plan pins for the r16 registered queries: no cartesian anywhere
    (the BH/CUPED-style scalar crossJoins are broadcast 1-row frames, so
    they compile to BroadcastNestedLoopJoin over a single row, never
    CartesianProduct); the multi-touch path join is an equi join on
    (user, horizon-bucket); MWU/KS collapse to the per-distinct-value
    count table before any window."""
    from conftest import SF_DIR

    qs = all_queries()
    for name in (
        "er_fuzzy_pairs_t2",
        "eval_mann_whitney_ab",
        "eval_ks_two_sample",
        "eval_bh_fdr_nations",
        "events_multitouch_attribution",
        "events_logrank_ab",
        "graph_kcore_copurchase",
    ):
        df = qs[name].fn(spark, SF_DIR)
        df.count()
        plan = audit.executed_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name

    # the multi-touch join must be hash-equi on (u, bucket) — a bare
    # user-only join would be per-user all-pairs (hot-user quadratic)
    from sql_data_warehouse_and_analytics_project_spark.operators.attribution import (
        events_multitouch_attribution,
    )

    plan = audit.executed_plan(events_multitouch_attribution(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_stats_no_unpartitioned_window(spark):
    """VERDICT r16 what's-wrong #1: the MWU/KS/QTE rank machinery must not
    fold its per-distinct-value count table — unit-cardinality for a
    continuous metric — through a global window (one task sorts the whole
    table). After the r17 rework the cumulative sums run through
    ``abstats._value_cumsums`` (range-partition → per-partition window →
    broadcast prefix offsets) and the plans carry ZERO unpartitioned
    WindowExec nodes."""
    qs = all_queries()
    for name in (
        "eval_mann_whitney_ab",
        "eval_ks_two_sample",
        "eval_qte_ab",
        # r17 sweep extensions (same continuous-metric / corpus-cardinality
        # class): the two per-customer NTILE queries now ride _dist_ntile
        # (eval_information_value moved its distinct-value cumsum to
        # _value_cumsums too but keeps ONE bounded window — pinned below)
        "olap_distribution",
        "olap_rfm_segmentation",
    ):
        df = qs[name].fn(spark, SF_DIR)
        df.count()
        assert audit.unpartitioned_window_count(df) == 0, name


def test_bounded_window_queries_pinned_counts(spark):
    """The remaining unpartitioned windows in the A/B tier run over tables
    whose row counts are BOUNDED BY CONSTRUCTION, not by the corpus: BH
    folds over the 25-nation segment table, CMH over the ≤7-row
    day-of-week stratum table. Pin their exact unpartitioned-window counts
    so a refactor that widens those inputs (or adds a corpus-scale global
    window) fails loudly."""
    qs = all_queries()
    for name, expected in (
        ("eval_bh_fdr_nations", 2),
        ("eval_cmh_stratified_ab", 7),
        # the iv_total fold over the ≤11-row decile rollup (the
        # corpus-cardinality cumsum upstream is _value_cumsums now)
        ("eval_information_value", 1),
        # the r17 sequential monitors fold per-HOUR tables (bounded by
        # observation span): cumulative counts + running-min p (mSPRT),
        # prefix sum + prefix min/max (CUSUM)
        ("eval_msprt_ab", 2),
        ("events_cusum_hourly", 2),
        # and the other r17 keys carry none at all
        ("events_weekly_seasonality", 0),
        ("eval_srm_check", 0),
        ("eval_power_mde", 0),
        ("graph_degree_stats", 0),
    ):
        df = qs[name].fn(spark, SF_DIR)
        df.count()
        assert audit.unpartitioned_window_count(df) == expected, name

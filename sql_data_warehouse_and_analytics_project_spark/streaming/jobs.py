"""Structured Streaming jobs over the ``events`` stream (SURVEY §7.2 step 8).

The reference has no streaming surface — its incremental machinery is batch
CDC with a watermark table (ref: scripts/silver/proc_load_silver.sql:51-53,
119-122; SURVEY §2.9 C1). These jobs are the Structured-Streaming
generalization of that pattern: the audit-table watermark becomes
``withWatermark`` (late-data bound + state eviction), the delta filter
becomes the incremental file source, and the batch append becomes an
append-mode sink.

Stream/batch unification is the design invariant: every aggregation here
shares its logical plan with a registered batch query (streaming/batch_views
.py) so the DuckDB oracle that checks the batch twin also pins the streaming
semantics; tests additionally replay the stream with an availableNow trigger
and assert bit-equality with the batch result.

Scale notes (100 TB/day stream): all aggregations are keyed on
(window, event_type) or user_id — state is bounded by watermark eviction,
partial aggregation happens map-side before the keyed shuffle, and the file
source's ``maxFilesPerTrigger`` bounds per-microbatch memory. The custom
stateful operator uses ``applyInPandasWithState`` (Arrow-batched, grouped
state) — the Spark-idiomatic form for operators the built-in windows can't
express.

Sinks: every ``foreachBatch`` sink starts through :func:`_start`
(checkpoint location + availableNow trigger). foreachBatch is
at-least-once, and the sinks fall into three replay disciplines:

- MAX merge: the HLL corpus sketch's register merge is idempotent, so a
  redelivered batch is a no-op by algebra;
- partials with the lineage guard: the six SUM-merge monitors (CMS,
  histogram, eval counts, embedding stats, A/B units, mSPRT) land one
  partial per batch through :func:`apply_partials` (via
  :func:`_partial_sink`) and merge at read time (:func:`_merged`);
- anti-join repair: the index sinks append only rows not yet stored
  (single-table winnow/positional sinks directly, multi-table sinks
  behind the ``_record_ingest`` sidecar).

The as-of attribution sink keeps its own committed-state high-water
mark (skip-and-mark on a fresh lineage).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import materialize  # module import: the sinks take a `checkpoint` location parameter
from ..sources.local import local_frame, write_local

# Logical schema of the events stream (micros precision — the nanos in the
# driver's parquet are downcast at the batch boundary, ``sources.tpch.load``).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental parquet file source for events.

    New files landing in ``input_dir`` are the stream (the lakehouse-native
    ingestion pattern); schema is pinned — never inferred — so a malformed
    producer file fails loudly instead of corrupting state.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


# ------------------------------------------------------------- windowed aggs


def hourly_events(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour aggregation; batch twin: stream_events_hourly.

    ``withWatermark`` bounds state: a window closes (and is emittable in
    append mode) once event time passes window_end + watermark — the
    streaming analog of the reference's 1-day watermark safety buffer
    (ref: proc_load_silver.sql:121).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
                "event_type", "n_events", "approx_users", "total_value")
    )


def sliding_value_rate(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 1-hour window every 15 minutes — overlapping assignment means
    each event lands in 4 windows; Spark expands then partially aggregates
    map-side, so the shuffle carries 4 partial rows per (window,type), not
    4 copies of the input."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        # decimal avg: exact + order-independent (float avg drifts in the last
        # ulp with partition order, breaking stream-vs-batch bit-equality)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg(F.col("value").cast("decimal(18,4)")).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "avg_value")
    )


def user_sessions(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows per user via the built-in ``session_window`` — gap-based
    dynamic windows, state evicted by the watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_events_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming ingest deduplication on event_id —
    ``dropDuplicatesWithinWatermark`` keeps one row per key and EVICTS the
    key's state once the watermark passes its event time, so the dedup state
    is bounded by (stream rate × watermark) instead of growing forever like
    a plain ``dropDuplicates`` would. This is the streaming form of the
    exact-dedup operator (operators/dedup.py) and the first stage any
    at-least-once ingest (replayed files, producer retries) needs."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def enrich_events_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static enrichment join: events enriched with the customer
    dimension (user_id → customer key, the same J4 dim-enrichment shape as
    the batch gold layer). The static side is explicitly broadcast — each
    microbatch re-plans against the dim's CURRENT snapshot (picking up slow
    dim changes) and the stream side never shuffles."""
    d = F.broadcast(dim.select("c_custkey", "c_mktsegment", "c_nationkey"))
    return (
        stream.join(d, stream.user_id == d.c_custkey, "left")
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.coalesce("c_mktsegment", F.lit("n/a")).alias("segment"),
        )
    )


def attribute_purchases(
    views: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon_minutes: int = 60,
) -> DataFrame:
    """Stream–stream interval join: each purchase attributed to every view
    by the same user within the preceding ``horizon_minutes`` — the
    conversion-attribution query, and the one streaming join shape the
    stream–static enrichment cannot express (BOTH sides arrive late).

    State-bound discipline: both sides carry an event-time watermark and
    the join condition is a closed time range anchored on the view side, so
    Spark derives a state-eviction bound for BOTH buffers — view state
    lives ``watermark + horizon``, purchase state ``watermark`` — instead
    of growing forever. At scale the join shuffles both streams once by
    user_id (the equi-key); the time-range residual is evaluated inside
    the co-partition, and hot users are bounded by the horizon window, not
    the stream's lifetime."""
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return v.join(p, cond).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "view_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


# -------------------------------------------- custom stateful operator (C1')

_STATE_SCHEMA = "total_events bigint, total_value double, last_ts timestamp"
_OUT_SCHEMA = (
    "user_id bigint, total_events bigint, total_value double, last_ts timestamp, expired boolean"
)


def _make_track_user(idle_timeout_ms: int | None):
    def _track_user(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        """Per-user running totals, optionally with idle-timeout expiry.

        Grouped-map stateful function (Arrow-batched): accumulates event
        count / value per user across microbatches; with a timeout armed, an
        idle user's final row is emitted with expired=True and state dropped
        — bounded state without a window shape, i.e. the operator class the
        built-in windows can't express (SURVEY §7 custom-operator tier b).
        """
        (user_id,) = key
        if state.hasTimedOut:
            total, value, last = state.get
            state.remove()
            yield pd.DataFrame(
                [{"user_id": user_id, "total_events": total, "total_value": value,
                  "last_ts": last, "expired": True}]
            )
            return
        total, value, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            total += len(pdf)
            value += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((total, value, last))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [{"user_id": user_id, "total_events": total, "total_value": value,
              "last_ts": last, "expired": False}]
        )

    return _track_user


def user_running_totals(stream: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """applyInPandasWithState wiring for the per-user tracker (update mode).

    ``idle_timeout_ms`` arms processing-time expiry for continuous
    deployments. Leave it None for availableNow replays/backfills: pending
    timeout ticks count as available work, so a drain-and-stop harness would
    never settle with a timeout armed.
    """
    return stream.groupBy("user_id").applyInPandasWithState(
        _make_track_user(idle_timeout_ms),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


# ------------------------------------------------------------------ running


def run_available_now(job: DataFrame, output_mode: str, query_name: str, checkpoint: str):
    """Drain everything currently in the source into an in-memory sink and
    stop — the test/replay harness (Trigger.AvailableNow processes all
    pending input in bounded microbatches, then terminates)."""
    q = (
        job.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    # processAllAvailable + stop, not awaitTermination: a stateful operator
    # with pending processing-time timeouts keeps the query alive waiting for
    # them to fire, so awaitTermination would block past the data drain.
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return q


def _start(stream: DataFrame, fn, checkpoint: str):
    """Start ``fn(batch, batch_id)`` as a foreachBatch sink that drains
    everything available at ``checkpoint``'s lineage and stops."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _due(batch_id: int, every: int | None) -> bool:
    """Cadence of the ``*_every_batches`` maintenance steps: true on every
    ``every``-th batch, never when ``every`` is 0 or None."""
    return bool(every) and (batch_id + 1) % every == 0


_UPSERT_BUCKETS = 64


def upsert_key_bucket(key, n_buckets: int = _UPSERT_BUCKETS):
    """The stable key→bucket map the upsert target is partitioned by:
    xxhash64 is deterministic across runs/sessions, so a key lands in the
    same partition directory on every microbatch — including NULL keys,
    which xxhash64 folds to the (deterministic) seed hash rather than
    returning NULL, so they too always land in one fixed bucket. No
    special-casing: remapping NULLs (e.g. to bucket 0) would silently
    strand pre-existing NULL-key rows in their old partition and break
    keep-latest semantics for them."""
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))


def sink_stream_upsert(
    job: DataFrame,
    catalog,
    table: str,
    key: str,
    order_col: str,
    checkpoint: str,
    n_buckets: int = _UPSERT_BUCKETS,
):
    """Streaming UPSERT sink: each microbatch MERGEs into a warehouse table
    keyed on ``key``, keeping the row with the greatest ``order_col`` — the
    streaming twin of the silver SCD1 merge (ref: proc_load_silver.sql:57-123)
    via ``foreachBatch``, the Structured-Streaming idiom for sinks that need
    transactional semantics the file sink can't give.

    Scale design: the target is partitioned by a stable hash bucket of the
    key (``_key_bucket``, a physical-layout column visible to readers like
    any partition column). A microbatch (1) computes the buckets it touches
    — a ≤``n_buckets``-element collect, (2) reads ONLY those partitions of
    the current table (directory-level pruning), (3) keep-latest merges
    batch + current rows (one window), and (4) publishes via dynamic
    partition overwrite, rewriting ONLY the touched bucket directories.
    Untouched buckets' files are never read or written — at 100 TB a
    trickle microbatch costs O(touched buckets), not a full-table rewrite.
    On Delta this becomes a single ``MERGE INTO`` touching only matched
    files; same semantics, finer-than-partition granularity.
    """
    from pyspark.sql import Window

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        bucketed = batch.withColumn("_key_bucket", upsert_key_bucket(key, n_buckets))
        w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc("_is_new"))
        if catalog.exists(table):
            touched = [
                r["_key_bucket"]
                for r in bucketed.select("_key_bucket").distinct().collect()
            ]
            current = catalog.read(table).filter(F.col("_key_bucket").isin(touched))
            src = bucketed.withColumn("_is_new", F.lit(1)).unionByName(
                current.withColumn("_is_new", F.lit(0))
            )
        else:
            src = bucketed.withColumn("_is_new", F.lit(1))
        latest = (
            src.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_is_new")
        )
        if catalog.exists(table):
            catalog.overwrite_partitions(table, latest, ["_key_bucket"])
        else:
            catalog.overwrite(table, latest, partition_by=["_key_bucket"])

    return _start(job, merge_batch, checkpoint)


def _record_ingest(
    batch: DataFrame, key: str, side_path: str, batch_id: int, pipeline: str
) -> tuple[DataFrame, bool]:
    """At-least-once ingest sidecar of the foreachBatch index sinks:
    ``(batch, rows, retried)``. The ``side_path`` table holds (``key``,
    batch_id) rows. ``batch`` loses the ids an EARLIER batch recorded —
    the current batch_id is excluded, so a retry of this batch keeps the
    rows its dead attempt recorded but may not have indexed — is cut by a
    checkpoint (its plan reads the sidecar, and the sink's index paths,
    that the writes after it append to) that counts its ``rows``, and its
    ids are recorded once.
    ``retried`` says this batch_id was already recorded: the sidecar is
    written before the sink's own appends and doubles as the attempt
    marker, so a retried batch routes onto its sink's convergent repair."""
    from ..warehouse.hdfs import exists

    spark = batch.sparkSession
    retried = False
    if exists(spark, side_path):
        side = spark.read.parquet(side_path)
        prior = side.filter(F.col("batch_id") != batch_id).select(key).distinct()
        batch = batch.join(prior, key, "left_anti")
        mine = side.filter(F.col("batch_id") == batch_id).select(key)
        retried = bool(mine.take(1))
    batch, rows = materialize.counted(
        batch, lambda d: materialize.checkpoint(d, f"{pipeline}:new_ids")
    )
    to_record = batch
    if retried:
        # don't double-record rows the dead attempt wrote
        to_record = materialize.checkpoint(
            batch.join(mine.distinct(), key, "left_anti"), f"{pipeline}:unrecorded_ids"
        )
    to_record.select(key, F.lit(batch_id).cast("bigint").alias("batch_id")).write.mode(
        "append"
    ).parquet(side_path)
    return batch, rows, retried


def sink_stream_neardedup(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float | None = None,
    exact_confirm: bool = True,
    compact_every_batches: int | None = 16,
):
    """Streaming NEAR-dedup sink: every microbatch is near-dedup'd both
    within itself and against EVERYTHING accepted so far, survivors are
    appended to ``out_path`` and to the persistent MinHash signature index
    — the streaming composition of the incremental-index API
    (operators/dedup.py: build/append/query_minhash_index).

    Per batch: (1) the batch LSH pipeline finds within-batch near-dup pairs
    and drops each pair's larger doc_id (keep-first policy, exact dups
    included via their jaccard-1.0 member pairs); (2) the remaining docs
    probe the signature index — banding-join against the stored band table,
    signature-estimated Jaccard confirm — and any doc matching an indexed
    doc is dropped; (3) survivors' signatures append to the index and their
    rows append to the output. The index stores ~300 B/doc (signatures +
    bands, never text), so state grows with the ACCEPTED corpus surface,
    not the stream volume, and each batch's cost is O(batch) work plus a
    narrow join against the band table — no replay of accepted text.

    Watermark note: unlike the time-bounded ``dedup_events_stream`` (state
    expires with the watermark), near-dedup is content-keyed and must
    remember forever — which is exactly why the state lives in the
    restartable on-disk index, not in executor memory.

    Cross-batch confirm (r7, ADVICE r6): when ``exact_confirm`` is on
    (default), an index hit is verified with the EXACT Jaccard before the
    doc is dropped — the accepted side's text is re-read from the sink's
    own output (filtered to the tiny candidate id set; the index itself
    stays text-free), so streaming acceptance matches the batch pipeline's
    exact-verify semantics instead of the signature-estimated Jaccard
    (std ≈0.05 at the threshold, which can falsely drop a true ~0.7 pair
    or keep a ~0.85 one). A candidate whose accepted text is not yet
    published (the narrow crash window between index append and output
    publish) falls back to the estimated score for that pair.

    Redelivery (r7, ADVICE r6): a tiny ``<index>/ingested`` sidecar records
    (doc_id, batch_id) for every accepted doc, so a doc redelivered in a
    LATER batch (at-least-once source) is dropped from the output — the
    output is doc_id-unique across batches — while a retry of the SAME
    batch keeps its rows (the per-batch overwrite republishes them
    idempotently). The sidecar is written BEFORE the index append and
    doubles as the attempt marker (r12): a batch whose batch_id is
    already recorded routes onto ``repair_minhash_append``, which appends
    each index component's OWN missing rows — a crash anywhere between
    the signatures/bands/members writes converges on the retry instead of
    leaving a doc signed-but-unbanded (permanently unfindable) or absent
    from members (hits silently dropped at the inner join).

    Compaction cadence (r7, VERDICT r6 ask #4): every
    ``compact_every_batches`` batches the sink runs
    ``compact_minhash_index`` — without it a long-running ingest
    accumulates O(batches) files per index component and query latency
    degrades linearly. Compaction also restores the global band-bucket cap
    across appends; the overflow audit of what the re-cap trimmed is
    appended to ``<index>/audit/bucket_overflow`` (with the compacting
    batch_id) so a long-lived ingest surfaces its recall trims instead of
    hiding them (no-silent-caps rule).

    Replay safety (foreachBatch is at-least-once): the output lands in a
    per-batch subdirectory written with OVERWRITE, so a retried batch
    replaces its own files instead of double-appending; a detected retry
    re-appends only each index component's missing rows (see the
    redelivery paragraph); and a hit on the SAME doc_id from the same
    batch counts as this document re-observed, never as a duplicate to
    drop. The index/output pair still isn't a single transaction — a
    crash exactly between the two writes leaves the doc indexed but
    unpublished until the retry republishes its batch directory (which
    the overwrite makes idempotent)."""

    from ..operators import dedup

    if threshold is None:
        # shared constant, not a hand-synced literal: the sink must agree
        # with the batch pipeline and query_minhash_index defaults
        threshold = dedup._NEARDUP_THRESHOLD

    # Hadoop FileSystem, not os.path: the index may live on any Spark-
    # readable URI (hdfs://, s3a://), where a driver-local stat would be
    # silently false and skip the cross-batch probe forever.
    from ..warehouse.hdfs import exists as _exists

    def _confirmed_hits(spark: SparkSession, hits: DataFrame, survivors: DataFrame):
        """Exact-Jaccard verify of cross-batch index hits: re-join the
        accepted side's text from the sink's own published output (the
        index stores no text) and score each candidate pair on its true
        distinct-shingle Jaccard, falling back to the signature estimate
        for a pair whose accepted text is not yet published. The accepted
        ids are collected driver-side (LSH-bounded, tiny) and pushed down
        as an IN filter so the output read prunes row groups by footer
        stats instead of scanning the accepted corpus per batch; a
        pathological candidate flood falls back to a semi join."""
        ids = [r["doc_id"] for r in
               hits.select(F.col("indexed_doc_id").alias("doc_id")).distinct().collect()]
        accepted = spark.read.parquet(out_path).select("doc_id", "text")
        if len(ids) <= 10_000:
            accepted = accepted.filter(F.col("doc_id").isin(ids))
        else:
            idx_ids = local_frame(spark, [(i,) for i in ids], "doc_id bigint")
            accepted = accepted.join(idx_ids, "doc_id", "left_semi")
        new_texts = survivors.select(
            F.col("doc_id").alias("new_doc_id"), F.col("text").alias("_new_text")
        )
        acc_texts = accepted.select(
            F.col("doc_id").alias("indexed_doc_id"), F.col("text").alias("_acc_text")
        )
        sh_n = dedup.shingles_col(F.col("_new_text"))
        sh_a = dedup.shingles_col(F.col("_acc_text"))
        exact = F.size(F.array_intersect(sh_n, sh_a)).cast("double") / F.size(
            F.array_union(sh_n, sh_a)
        )
        score = F.when(F.col("_acc_text").isNotNull(), exact).otherwise(
            F.col("est_jaccard")
        )
        return (
            hits.join(new_texts, "new_doc_id")
            .join(acc_texts, "indexed_doc_id", "left")
            .filter(score >= threshold)
        )

    def _dedup_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.select("doc_id", "lang", "text")
        with materialize.released():
            pairs = dedup.minhash_lsh_pairs(batch, threshold=threshold)
            dups = pairs.select(F.col("doc_id_2").alias("doc_id")).distinct()
            survivors = batch.join(dups, "doc_id", "left_anti")
            indexed_ids = None
            if _exists(spark, f"{index_path}/bands"):
                # exact_confirm probes at threshold 0 so ALL banding
                # candidates reach the exact verify — the same
                # candidates-then-exact-confirm shape as the batch pipeline
                probe = 0.0 if exact_confirm else threshold
                # eager checkpoint: the tiny candidate-pair frame is consumed
                # by the id-collect, the confirm join, and the anti-join —
                # uncheckpointed, each would re-run the index probe pipeline
                hits = materialize.checkpoint(
                    dedup.query_minhash_index(spark, index_path, survivors, threshold=probe)
                    .filter(F.col("new_doc_id") != F.col("indexed_doc_id")),
                    "neardedup_sink:index_hits",
                )
                if exact_confirm and _exists(spark, out_path):
                    confirmed = _confirmed_hits(spark, hits, survivors)
                else:
                    confirmed = hits.filter(F.col("est_jaccard") >= threshold)
                seen = confirmed.select(F.col("new_doc_id").alias("doc_id")).distinct()
                survivors = survivors.join(seen, "doc_id", "left_anti")
            # a doc accepted by an EARLIER batch and redelivered now must
            # not re-enter the output; a retry of THIS batch republishes
            # its own rows
            survivors, _, retried = _record_ingest(
                survivors, "doc_id", f"{index_path}/ingested", batch_id, "neardedup_sink"
            )
            if retried:
                # r12 (same class as the ADVICE r11 inverted-index fix):
                # the old retry keyed on the signatures table alone, so a
                # crash BETWEEN the three component writes left a doc
                # signed-but-unbanded (unfindable) or bandless-membered
                # (hits dropped at the inner members join) forever. The
                # repair appends each component's own missing rows.
                dedup.repair_minhash_append(survivors, index_path)
            else:
                # belt-and-braces for a doc indexed by an earlier batch
                # (already sidecar-excluded): never append a duplicate
                # signature
                to_index = materialize.missing_rows(
                    survivors, f"{index_path}/signatures", "doc_id"
                )
                if to_index is not None:
                    dedup.append_minhash_index(to_index, index_path)
            survivors.write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={batch_id}"
            )
            if _due(batch_id, compact_every_batches):
                overflow = dedup.compact_minhash_index(spark, index_path)
                # only write when the re-cap actually trimmed something —
                # an empty parquet write would leave a schema-less directory
                if overflow.take(1):
                    overflow.withColumn(
                        "batch_id", F.lit(batch_id).cast("bigint")
                    ).write.mode("append").parquet(f"{index_path}/audit/bucket_overflow")

    return _start(docs_stream, _dedup_batch, checkpoint)


def sink_stream_embeddings(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_lists: int | None = None,
    staleness_every_batches: int = 16,
    compact_every_batches: int | None = 16,
):
    """Streaming embedding-ingest sink: the vector-side twin of
    :func:`sink_stream_neardedup`. The first microbatch trains and builds
    the persisted IVF index (``similarity.build_ivf_index``); every later
    batch assigns its vectors against the STORED centroids and
    partition-appends them (``append_ivf_index``) — per-batch cost is
    O(batch) assignment work, never a retrain or a rebuild, and
    ``ivf_search`` over the index stays answerable between batches.

    Replay safety (foreachBatch is at-least-once; fixed per ADVICE r11,
    same class as the inverted-index sink): a ``<index>/ingested``
    (vec_id, batch_id) sidecar drops vec_ids ingested by EARLIER batches,
    with the current batch_id excluded from the anti-join — the
    near-dedup sink's discipline — so a retry of this batch keeps its
    own rows instead of silently dropping recorded-but-unindexed vectors.
    The sidecar is written before the vector append and doubles as the
    attempt marker: a batch whose batch_id is already recorded re-appends
    only the vectors missing from the stored ``vectors/`` table (the IVF
    index keeps no derived delta state — unlike the inverted index's
    df/stats — so the missing-only re-append alone makes the retry
    convergent; a retried first-batch ``build_ivf_index`` is a plain
    overwrite).

    Drift is surfaced, not silently absorbed: every
    ``staleness_every_batches`` batches the per-list growth audit
    (``ivf_index_staleness``) is appended under
    ``<index>/audit/staleness`` with the batch id — the retrain signal a
    production ingest alerts on (retraining itself is a rebuild decision
    the owner takes, not something a sink should do mid-stream)."""

    from ..operators import similarity
    from ..warehouse.hdfs import exists as _exists

    def _ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch, rows, retried = _record_ingest(
            batch.select("vec_id", "label", "embedding"),
            "vec_id",
            f"{index_path}/ingested",
            batch_id,
            "embeddings_sink",
        )
        if not rows:  # vec-wise redelivery from earlier batches only
            return
        if not _exists(spark, f"{index_path}/centroids"):
            similarity.build_ivf_index(batch, index_path, n_lists=n_lists)
        else:
            # convergent re-append: only the vectors the dead attempt
            # never got into the stored table
            to_index = batch
            if retried:
                to_index = materialize.missing_rows(batch, f"{index_path}/vectors", "vec_id")
            if to_index is not None:
                similarity.append_ivf_index(to_index, index_path)
        if _due(batch_id, staleness_every_batches):
            similarity.ivf_index_staleness(spark, index_path).withColumn(
                "batch_id", F.lit(batch_id).cast("bigint")
            ).write.mode("append").parquet(f"{index_path}/audit/staleness")
        if _due(batch_id, compact_every_batches):
            # without a cadence a long ingest accumulates O(batches) files
            # per list directory and probe latency degrades linearly
            similarity.compact_ivf_index(spark, index_path)

    return _start(emb_stream, _ingest_batch, checkpoint)


def sink_stream_inverted_index(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    n_buckets: int = 64,
    compact_every_batches: int | None = 16,
):
    """Streaming full-text-ingest sink: the postings-side sibling of
    :func:`sink_stream_embeddings`. The first microbatch builds the
    persisted inverted index (``retrieval.build_inverted_index``); every
    later batch folds in incrementally (``append_inverted_index`` —
    postings append, per-touched-bucket df merge, algebraic stats merge),
    so ``bm25_search_indexed`` stays answerable between batches and
    per-batch cost is O(batch), never a rebuild.

    Replay safety (foreachBatch is at-least-once; fixed per ADVICE r11):
    appends are not idempotent — a replayed batch would double postings,
    df, and stats — so the ``<index>/ingested`` (doc_id, batch_id)
    sidecar drops doc_ids ingested by EARLIER batches, with the current
    batch_id excluded from the anti-join (the near-dedup sink's
    discipline) so a retry of THIS batch keeps its own rows instead of
    silently losing them. The sidecar is written BEFORE the append and
    doubles as the attempt marker: when a batch arrives whose batch_id
    is already recorded, a previous attempt died somewhere inside the
    append, so the sink routes onto the crash-convergent
    ``repair_append_inverted_index`` — append only the docs missing from
    postings, rebuild touched terms buckets and stats from postings —
    which converges no matter where the dead attempt stopped. The first
    batch needs no repair path: ``build_inverted_index`` overwrites all
    three tables, so a retried build is idempotent.

    ``compact_every_batches`` runs ``compact_inverted_index`` on a
    cadence — every append lands one file set per touched bucket, so an
    uncompacted long ingest pays O(batches) file opens per pruned
    serving scan."""
    from ..operators import retrieval
    from ..warehouse.hdfs import exists as _exists

    def _ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        side_path = f"{index_path}/ingested"
        batch, rows, retried = _record_ingest(
            batch.select("doc_id", "lang", "text"), "doc_id", side_path, batch_id, "inverted_sink"
        )
        if not rows:  # doc-wise redelivery from earlier batches only
            return
        if not _exists(spark, f"{index_path}/stats"):
            retrieval.build_inverted_index(batch, index_path, n_buckets=n_buckets)
        elif retried:
            # the sidecar (read AFTER this batch's rows were recorded) is
            # the doc registry: a zero-token doc never lands a postings
            # row, so stats rebuilt from postings alone would drop it
            registry = spark.read.parquet(side_path).select("doc_id")
            retrieval.repair_append_inverted_index(
                batch, index_path, doc_registry=registry
            )
        else:
            retrieval.append_inverted_index(batch, index_path)
        if _due(batch_id, compact_every_batches):
            retrieval.compact_inverted_index(spark, index_path)

    return _start(docs_stream, _ingest_batch, checkpoint)


# ------------------------------------------------- streaming corpus sketch


def _lowered_terms(batch: DataFrame) -> DataFrame:
    """(term): the batch's ``text`` tokens, lowered, one row each."""
    from ..operators.text import tokens_col

    return batch.select(
        F.explode(F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))).alias("term")
    )


def sink_stream_corpus_sketch(docs_stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming corpus-statistics sink: maintain the md5-HLL vocabulary
    register table (``operators.approx.hll_registers``) across
    micro-batches — live distinct-vocabulary tracking over a document
    firehose at 4096-row state size.

    Replay safety needs NO sidecar here, unlike every other ingest sink in
    this module: the register merge is MAX per bucket, which is
    idempotent AND commutative, so at-least-once foreachBatch redelivery
    is safe BY ALGEBRA — re-merging any batch (or any prefix of the
    stream) is a no-op on the state. That is the operational payoff of
    sketch-class state: exactly-once bookkeeping becomes unnecessary the
    moment the merge is an idempotent monoid.

    State commits ride the crash-safe pointer protocol
    (``warehouse.commit.publish``): a crash mid-commit leaves readers on
    the previous register table; the orphaned version dir is swept by the
    next publish. Per-batch cost is O(batch tokens) map work + a KB-sized
    merge — never a rescan of history."""
    from ..operators.approx import hll_registers
    from ..warehouse import commit as _commit

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        regs = hll_registers(_lowered_terms(batch), "term")
        if _commit.current_version(state_path) is not None:
            prior = spark.read.parquet(_commit.resolve(state_path))
            regs = (
                regs.unionByName(prior)
                .groupBy("bucket")
                .agg(F.max("rho").alias("rho"))
            )
        # cut lineage before publish: the merged frame reads the very
        # path the commit is about to supersede
        regs = materialize.checkpoint(regs, "corpus_sketch_sink:registers")
        _commit.publish(
            state_path,
            lambda vdir: regs.coalesce(1).write.mode("overwrite").parquet(vdir),
        )

    return _start(docs_stream, _merge_batch, checkpoint)


def stream_sketch_estimate(spark: SparkSession, state_path: str) -> DataFrame:
    """(m_registers, zero_registers, estimate) from the committed register
    state — queryable between batches, identical to the one-shot batch
    sketch over everything ingested so far (pytest-pinned exact)."""
    from ..operators.approx import hll_estimate
    from ..warehouse import commit as _commit

    return hll_estimate(spark.read.parquet(_commit.resolve(state_path)))


# -------------------------------------------- SUM-merge partial sinks


def checkpoint_lineage_id(checkpoint: str) -> str:
    """The durable identity of a checkpoint lineage: the streaming query
    id Spark writes to ``<checkpoint>/metadata`` at query start (a fresh
    checkpoint directory mints a new uuid even at the same path). Falls
    back to the checkpoint path string when the file is absent — e.g. a
    test driving an apply function directly, or a non-local checkpoint
    filesystem, which the local-mode sinks never use."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(checkpoint, "metadata")) as f:
            return str(_json.load(f)["id"])
    except Exception:
        return checkpoint


def apply_partials(
    partials: dict[str, DataFrame], batch_id: int, state_path: str, lineage_id: str
) -> None:
    """One microbatch of a SUM-merge partial sink — module-level so the
    redelivery/crash tests can drive it directly. Each ``partials`` frame
    lands under ``<state_path>/<table>/batch_id=N``; readers SUM-merge
    the partials at read time (:func:`_merged`).

    Replay: SUM is commutative and associative but NOT idempotent (unlike
    the HLL sink's MAX), so re-merging a redelivered batch into a running
    total would double-count it. The WRITE is made idempotent instead: a
    redelivery carries the same batch_id (the checkpoint contract) and
    overwrites bit-identical content in its own partition.

    Regrouping: that holds only for IDENTICAL batch boundaries. A fresh
    checkpoint lineage re-reads the whole source but may group files
    differently (e.g. everything in batch 0), which would overwrite only
    ``batch_id=0`` and leave stale higher-id partials double-counting
    (ADVICE r17 #2). Each table therefore records the lineage id and
    batch_id that last wrote it in ``<state_path>/<table>_meta``; a batch
    from a DIFFERENT lineage clears the table and its record first —
    loud (warning) and convergent, because the new lineage re-reads
    every input file from its own batch 0.

    Crash windows: a crash after a partial write but before its record
    leaves the record stale — the streaming checkpoint has not advanced
    either, so the same (lineage, batch_id) is redelivered and both
    writes are idempotent overwrites. A crash between the
    lineage-mismatch clear and the first new-lineage write loses only
    partials the new lineage regenerates from scratch."""
    import os as _os
    import shutil as _shutil
    import warnings as _warnings

    for table, frame in partials.items():
        spark = frame.sparkSession
        table_dir, meta_dir = f"{state_path}/{table}", f"{state_path}/{table}_meta"
        committed_lineage = None
        if _os.path.isdir(meta_dir) and any(
            f.endswith(".parquet") for f in _os.listdir(meta_dir)
        ):
            committed_lineage = spark.read.parquet(meta_dir).collect()[0]["lineage_id"]
        if committed_lineage is not None and committed_lineage != lineage_id:
            _warnings.warn(
                f"partial sink {table!r} at {state_path}: fresh checkpoint lineage "
                f"{lineage_id!r} over state committed by {committed_lineage!r}; "
                "clearing partial dirs and rebuilding from the new lineage's "
                "re-read (per-batch overwrite is only idempotent for identical "
                "batch boundaries)",
                stacklevel=2,
            )
            _shutil.rmtree(table_dir, ignore_errors=True)
            _shutil.rmtree(meta_dir, ignore_errors=True)
        frame.coalesce(1).write.mode("overwrite").parquet(f"{table_dir}/batch_id={batch_id}")
        meta = [(str(lineage_id), int(batch_id))]
        write_local(spark, meta, "lineage_id string, batch_id bigint", meta_dir)


def _partial_sink(stream: DataFrame, state_path: str, checkpoint: str, partials):
    """Start a SUM-merge partial sink: ``partials(batch)`` maps each
    microbatch to its ``{table: frame}``, landed by :func:`apply_partials`
    under ``checkpoint``'s lineage."""

    def _sink_batch(batch: DataFrame, batch_id: int) -> None:
        lineage_id = checkpoint_lineage_id(checkpoint)
        apply_partials(partials(batch), batch_id, state_path, lineage_id)

    return _start(stream, _sink_batch, checkpoint)


def _merged(
    spark: SparkSession, state_path: str, table: str, keys: list[str], sums: list[str]
) -> DataFrame:
    """``table``'s partials SUM-merged over every batch: one row per
    ``keys`` with each ``sums`` column as a bigint — one partial
    aggregation over KB-sized per-batch tables, so serving stays cheap
    for any realistic batch count."""
    return (
        spark.read.parquet(f"{state_path}/{table}")
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("bigint").alias(c) for c in sums])
    )


def sink_stream_cms_sketch(docs_stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming Count-Min sink: per micro-batch, the md5-CMS cell table
    (``operators.approx.cms_table``) of the batch's lowered tokens lands
    under ``<state_path>/cells/batch_id=N`` (:func:`apply_partials`)."""
    from ..operators.approx import cms_table

    return _partial_sink(
        docs_stream, state_path, checkpoint, lambda b: {"cells": cms_table(_lowered_terms(b))}
    )


def stream_cms_cells(spark: SparkSession, state_path: str) -> DataFrame:
    """(row, bucket, cnt) merged CMS table over every ingested batch —
    SUM across batch partitions, bit-identical to the one-shot batch
    sketch over the union (pytest-pinned). Feed to
    ``operators.approx.cms_estimate`` for point queries."""
    return _merged(spark, state_path, "cells", ["row", "bucket"], ["cnt"])


def sink_stream_hist_sketch(
    docs_stream: DataFrame, state_path: str, checkpoint: str
):
    """Streaming fixed-bin histogram sink: per micro-batch, the
    document-length bin table (``operators.approx.hist_bins`` over
    length(text)) lands under ``<state_path>/bins/batch_id=N``
    (:func:`apply_partials`)."""
    from ..operators.approx import hist_bins

    return _partial_sink(
        docs_stream,
        state_path,
        checkpoint,
        lambda b: {"bins": hist_bins(b.select(F.length("text").alias("v")), "v")},
    )


def stream_hist_quantiles(spark: SparkSession, state_path: str) -> DataFrame:
    """(q, estimate) linear-interpolated quantiles over everything
    ingested so far: SUM-merge the per-batch bin tables, then the exact
    closed-form interpolation — identical to the one-shot batch sketch
    over the union (pytest-pinned)."""
    from ..operators.approx import hist_quantiles

    return hist_quantiles(_merged(spark, state_path, "bins", ["bin"], ["cnt"]))


def sink_stream_winnow_index(
    docs_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    compact_every_batches: int | None = 16,
):
    """Streaming ingest into the winnow fingerprint index (r13) — the
    verbatim-run-overlap state the near-dedup sink cannot provide
    (MinHash is a global sketch; winnowing carries the SIGMOD'03 local
    guarantee). Between batches the index answers
    ``operators.winnow.query_winnow_index`` for any probe batch.

    Replay safety needs NO sidecar, the third distinct argument in this
    module's family: the HLL sink is safe because MAX-merge is
    idempotent; the SUM-merge partial sinks are safe because each batch
    OVERWRITES its own batch_id partition under a lineage guard
    (:func:`apply_partials`); this sink is safe because the
    index is a SINGLE component table and every batch routes through
    ``repair_winnow_append`` — an anti-join that appends only the
    batch's not-yet-stored doc_ids, so any redelivery (same batch or a
    later at-least-once duplicate) converges to the exact same table.
    There is no multi-table crash window to reconcile, which is what
    forces the minhash/inverted sinks' ingested-sidecar machinery.

    Compaction cadence: every ``compact_every_batches`` batches the sink
    runs ``compact_winnow_index`` — restores the GLOBAL per-fingerprint
    cap across appends (each append caps only within itself) and folds
    the O(batches) small files; the trim audit lands under
    ``<index>/audit/bucket_overflow`` with the compacting batch_id
    (no-silent-caps rule)."""
    from ..operators import winnow

    def _ingest_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        winnow.repair_winnow_append(batch, index_path)
        if _due(batch_id, compact_every_batches):
            audit = winnow.compact_winnow_index(spark, index_path)
            # coalesce(1): an empty audit (nothing over-cap) must still
            # land one schema-bearing file so the audit table stays
            # readable from its first compaction on. The write is keyed
            # on the batch_id PARTITION and overwrites it, so a
            # redelivered compacting micro-batch (crash after compaction,
            # before checkpoint commit) replaces its own audit rather
            # than appending duplicates — the same idempotent-replay
            # discipline as the partial sinks (r13 ADVICE).
            # batch_id lives in the partition PATH (discovered as a column
            # at read time); carrying it as a data column too would make
            # partition discovery raise a duplicate-column error.
            audit.coalesce(1).write.mode("overwrite").parquet(
                f"{index_path}/audit/bucket_overflow/batch_id={batch_id}"
            )

    return _start(docs_stream, _ingest_batch, checkpoint)


# --- streaming classifier-eval monitor (r13) ---------------------------------
#
# Online metric monitoring: the (score_key, p, q) distinct-score count
# table of operators.evalmetrics is a SUM-merge monoid, so each
# micro-batch lands its compact count table as a partial and the exact
# tie-aware AUC / PR sweep runs at read time over the KB-sized merged
# table. A pipeline watches its quality-classifier AUC drift live
# without ever re-scoring ingested documents.


def sink_stream_eval_counts(docs_stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming eval-metric sink: per micro-batch, the compact
    (score_key, p, q) table of the batch's en-detector scores vs labels
    (``operators.evalmetrics.score_label``) lands under
    ``<state_path>/counts/batch_id=N`` (:func:`apply_partials`)."""
    from ..operators.evalmetrics import _score_counts, score_label

    return _partial_sink(
        docs_stream, state_path, checkpoint, lambda b: {"counts": _score_counts(score_label(b))}
    )


def stream_eval_counts(spark: SparkSession, state_path: str) -> DataFrame:
    """(score_key, p, q) merged over every ingested batch — SUM across
    batch partitions, bit-identical to the one-shot batch count table
    over the union (pytest-pinned)."""
    return _merged(spark, state_path, "counts", ["score_key"], ["p", "q"])


def stream_roc_auc(spark: SparkSession, state_path: str) -> DataFrame:
    """Exact tie-aware AUC over everything ingested so far — identical
    to ``eval_roc_auc`` run as one batch over the union."""
    from ..operators.evalmetrics import auc_from_counts

    return auc_from_counts(stream_eval_counts(spark, state_path))


def stream_pr_curve(spark: SparkSession, state_path: str) -> DataFrame:
    """Full PR/F1 threshold sweep over everything ingested so far —
    identical to ``eval_pr_curve`` run as one batch over the union."""
    from ..operators.evalmetrics import pr_from_counts

    return pr_from_counts(stream_eval_counts(spark, state_path))


def stream_lift_deciles(spark: SparkSession, state_path: str) -> DataFrame:
    """Lift/gains decile table over everything ingested so far —
    identical to ``eval_lift_deciles`` run as one batch over the union
    (the count table is the same SUM-merge monoid the AUC/PR monitors
    read; lift adds zero new streaming state)."""
    from ..operators.evalmetrics import lift_from_counts

    return lift_from_counts(stream_eval_counts(spark, state_path))


# --- streaming embedding statistics (r13) -------------------------------------
#
# The PCA/correlation statistics of operators.pca are SUM-merge monoids
# (Gram cells, per-dim sums, row count), so each micro-batch lands its
# exact partial statistics and the learned PCA / correlation model can
# be refreshed from stream state at any moment without re-scanning a
# byte of ingested embeddings.


def sink_stream_embed_stats(embs_stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming embedding-statistics sink: per micro-batch, the exact
    Gram upper triangle and per-dimension sums/count of the batch land
    under ``<state_path>/{gram,dims}/batch_id=N`` (:func:`apply_partials`)."""
    from ..operators.pca import dim_stats, gram_matrix

    return _partial_sink(
        embs_stream,
        state_path,
        checkpoint,
        lambda b: {"gram": gram_matrix(b), "dims": dim_stats(b)},
    )


def stream_gram_matrix(spark: SparkSession, state_path: str) -> DataFrame:
    """(i, j, s) merged over every ingested batch — bit-identical to the
    one-shot batch Gram over the union (pytest-pinned)."""
    return _merged(spark, state_path, "gram", ["i", "j"], ["s"])


def stream_dim_stats(spark: SparkSession, state_path: str) -> DataFrame:
    """(i, s, n) merged per-dimension sums/count over every batch."""
    return _merged(spark, state_path, "dims", ["i"], ["s", "n"])


def stream_pca_model(spark: SparkSession, state_path: str, k: int = 16):
    """(components, mean) refreshed from the streamed statistics — the
    driver-side eigen phase of ``operators.pca.eigen_from_stats`` over
    merged state instead of a corpus scan."""
    from ..operators.pca import eigen_from_stats

    return eigen_from_stats(
        stream_gram_matrix(spark, state_path).collect(),
        stream_dim_stats(spark, state_path).collect(),
        k,
    )


# --- streaming A/B experiment monitor (r16) -----------------------------------
#
# Live experiment readouts without re-scanning ingested events: the
# Mann-Whitney and KS statistics of operators.abstats run on per-USER
# purchase totals, and a user's total is a SUM-merge monoid over its
# per-batch partials — so the state is one (user_id, v_partial) row per
# ACTIVE user per batch (bounded by the user population, never by event
# volume). The read-time merge groups the KB-to-MB-sized partials by
# user, re-derives the md5-parity arm, and hands the exact (t, v) unit
# table to the SAME batch operators — stream == batch by construction,
# pytest-pinned. Users with zero purchases are recorded (v_partial = 0)
# because they are experiment units in the batch twin.


def sink_stream_ab_units(events_stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming experiment-unit sink: per micro-batch, the per-user
    fixed-point purchase partial sums (every user SEEN in the batch,
    zero-purchase users included) land under
    ``<state_path>/units/batch_id=N`` (:func:`apply_partials`)."""
    from ..operators.abstats import _FP

    def _units(batch: DataFrame) -> dict[str, DataFrame]:
        purchase_fp = F.when(
            F.col("event_type") == "purchase",
            # COALESCE mirrors abstats._per_user_metric (ADVICE r16
            # #4): a NULL-valued purchase contributes 0, keeping the
            # partial non-NULL so stream == batch holds on the
            # degenerate input too
            F.coalesce(
                F.floor(F.col("value") * F.lit(float(_FP))).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
        ).otherwise(F.lit(0))
        units = batch.groupBy("user_id").agg(
            F.sum(purchase_fp).cast("bigint").alias("v_partial")
        )
        return {"units": units}

    return _partial_sink(events_stream, state_path, checkpoint, _units)


def stream_ab_units(spark: SparkSession, state_path: str) -> DataFrame:
    """(t, v) experiment-unit table merged over every ingested batch —
    SUM of per-user partials across batch partitions, then the md5-
    parity arm; bit-identical to ``abstats._per_user_metric`` over the
    union (pytest-pinned)."""
    from ..operators.dedup import _md5_long

    return _merged(spark, state_path, "units", ["user_id"], ["v_partial"]).select(
        (_md5_long(F.col("user_id").cast("string"), 13) % 2).cast("int").alias("t"),
        F.col("v_partial").alias("v"),
    )


def stream_mann_whitney(spark: SparkSession, state_path: str) -> DataFrame:
    """Tie-corrected Mann-Whitney readout over everything ingested so
    far — identical to ``eval_mann_whitney_ab`` run as one batch."""
    from ..operators.abstats import mann_whitney_u

    return mann_whitney_u(stream_ab_units(spark, state_path))


def stream_ks_two_sample(spark: SparkSession, state_path: str) -> DataFrame:
    """Exact two-sample KS readout over everything ingested so far —
    identical to ``eval_ks_two_sample`` run as one batch."""
    from ..operators.abstats import ks_two_sample

    return ks_two_sample(stream_ab_units(spark, state_path))


def sink_stream_msprt_counts(events_stream: DataFrame, state_path: str, checkpoint: str):
    """Streaming mSPRT monitor sink (r17): per micro-batch, the
    per-(hour, arm) trial/success partial counts land under
    ``<state_path>/msprt/batch_id=N`` (:func:`apply_partials`). State is
    bounded by (observation hours × 2 arms) per batch, never by event
    volume."""
    from ..operators.msprt import msprt_counts

    return _partial_sink(
        events_stream, state_path, checkpoint, lambda b: {"msprt": msprt_counts(b)}
    )


def stream_msprt_monitor(spark: SparkSession, state_path: str) -> DataFrame:
    """mSPRT always-valid decision table over everything ingested so far
    — the merged (hour, arm) partials through the SAME
    ``operators.msprt.msprt_boundary`` fold as the ``eval_msprt_ab``
    batch twin, so stream == batch by construction (pytest-pinned per
    ingest batch). Because the p-value is always-valid, consulting this
    after EVERY batch is statistically safe — the peeking-proof readout
    the raw-count monitor lacked (VERDICT r16 ask #6)."""
    from ..operators.msprt import msprt_boundary

    return msprt_boundary(_merged(spark, state_path, "msprt", ["hr", "t"], ["n", "x"]))


def stream_cusum_monitor(spark: SparkSession, state_path: str) -> DataFrame:
    """Two-sided CUSUM level-shift decision table over everything
    ingested so far — rides the SAME per-(hour, arm) state the mSPRT
    sink lands (no extra sink: the hourly trial count summed over arms
    IS the hourly event count), folded by the shared
    ``operators.cusum.cusum_from_hourly``; stream == batch by
    construction, pytest-pinned per ingest batch."""
    from ..operators.cusum import cusum_from_hourly

    hourly = _merged(spark, state_path, "msprt", ["hr"], ["n"]).withColumnRenamed("n", "x")
    return cusum_from_hourly(hourly)


def sink_stream_positional_layer(docs_stream: DataFrame, index_path: str, checkpoint: str):
    """Streaming ingest into the positional phrase layer of an inverted
    index (r13) — between batches the layer serves
    ``operators.retrieval.phrase_search_indexed`` exactly as a batch
    build would. Replay safety by the winnow-sink argument: the layer is
    a single table and every batch routes through
    ``repair_positional_append`` (doc_id anti-join), so any redelivery
    converges with no sidecar. Requires the inverted index to exist at
    ``index_path`` (the layer reads its n_buckets from stats) — pair
    with ``sink_stream_inverted_index`` over the same stream."""
    from ..operators.retrieval import repair_positional_append

    def _ingest_batch(batch: DataFrame, _batch_id: int) -> None:
        repair_positional_append(batch, index_path)

    return _start(docs_stream, _ingest_batch, checkpoint)


# ----------------------------------- streaming as-of attribution sink (r15)
#
# VERDICT r14 ask #5: the batch as-of join (operators/temporal.py) now
# exists; this is its streaming form — LATE CLICK ATTRIBUTION, the most
# common production use of point-in-time as-of. A stream-stream interval
# join (attribute_purchases) emits EVERY view in the horizon; attribution
# wants exactly ONE row per purchase — the latest click at-or-before it —
# and that "latest" can change while late clicks may still arrive, so a
# purchase must not be emitted until the event-time watermark passes its
# timestamp. Append-mode chaining (stream-stream join -> per-purchase
# max_by) would need watermark-propagating chained stateful operators;
# the foreachBatch + committed-state form below is the repo's established
# sink discipline and makes the state bounds explicit:
#
#   clicks state   <= horizon + lateness of event time per user (evicted
#                     at wm - horizon: older clicks can never be the
#                     as-of match of a still-unfinalized purchase);
#   pending state  <= lateness of event time (purchases finalize as soon
#                     as wm = max_seen_ts - lateness passes them);
#   per batch      one committed state swap (manifest-pointer commit) +
#                     one idempotent out/ingest_batch=<id> overwrite —
#                     a crashed batch replays convergently because the
#                     pointer flips only after the output is written.
#
# The finalize step IS the batch operator (asof_join_backward with
# assert_unique) over pending x click-state — stream/batch unification:
# the batch twin `asof_attribution_batch` shares the collapse, the as-of
# window, and the horizon null-out, and the tests pin bit-equality of the
# replayed stream against it.

_ASOF_FP = 1_000_000  # value fixed-point, shared with operators/temporal.py


def _collapse_clicks(events: DataFrame) -> DataFrame:
    """(user_id, ts, c_fp, src_id): clicks collapsed to one row per
    (user, ts) by max_by(value_fp, event_id) — the uniqueness the as-of
    join asserts. ``src_id`` (the winning event_id) rides along so the
    STREAMING state can re-collapse unions of per-batch collapses with
    the same winner an all-at-once batch collapse picks, even when
    equal-(user, ts) clicks arrive in different microbatches."""
    return (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            F.floor(F.col("value") * F.lit(float(_ASOF_FP)))
            .cast("bigint")
            .alias("v"),
            "event_id",
        )
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("v", "event_id").alias("c_fp"),
            F.max("event_id").alias("src_id"),
        )
    )


def _attribute_finalized(
    purchases: DataFrame, clicks: DataFrame, horizon_minutes: int
) -> DataFrame:
    """As-of backward + horizon null-out. The as-of match is the LATEST
    click <= purchase ts; any other candidate is older still, so a match
    outside the horizon means NO click inside it — nulling the payload is
    exactly 'unattributed within horizon'."""
    from ..operators.temporal import asof_join_backward

    horizon_us = horizon_minutes * 60 * 1_000_000
    j = asof_join_backward(
        purchases.select("event_id", "user_id", "ts"),
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="ts",
        payload=["ts", "c_fp"],
        payload_alias=["last_click_ts", "_c_fp"],
        inner=False,
        assert_unique=True,
    )
    in_h = F.col("last_click_ts").isNotNull() & (
        (F.unix_micros("ts") - F.unix_micros("last_click_ts")) <= F.lit(horizon_us)
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_h, F.col("last_click_ts")).alias("last_click_ts"),
        F.when(in_h, F.unix_micros("ts") - F.unix_micros("last_click_ts"))
        .cast("bigint")
        .alias("micros_since_click"),
        F.when(
            in_h, F.round(F.col("_c_fp").cast("double") / F.lit(float(_ASOF_FP)), 6)
        ).alias("last_click_value"),
    )


def asof_attribution_batch(events: DataFrame, horizon_minutes: int = 60) -> DataFrame:
    """The batch twin the streaming sink must equal on finalized
    purchases: every purchase attributed to the user's latest click
    at-or-before it, nulled when that click is older than the horizon."""
    return _attribute_finalized(
        events.filter(F.col("event_type") == "purchase"),
        _collapse_clicks(events),
        horizon_minutes,
    )


def asof_attribution_apply_batch(
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    horizon_minutes: int = 60,
    lateness_minutes: int = 60,
    lineage_id: str | None = None,
) -> None:
    """One microbatch of the as-of attribution sink — module-level so the
    redelivery/crash tests can drive it directly (foreachBatch is
    at-least-once: a batch may re-run with the SAME batch_id after a
    crash anywhere in this function, and must converge)."""
    import os as _os
    import warnings as _warnings

    from ..warehouse import commit as _commit

    horizon_us = horizon_minutes * 60 * 1_000_000
    lateness_us = lateness_minutes * 60 * 1_000_000
    state_dir = f"{state_path}/state"
    spark = batch.sparkSession
    if _commit.current_version(state_dir) is not None:
        vdir = _commit.resolve(state_dir)
        clicks_st = spark.read.parquet(_os.path.join(vdir, "clicks"))
        pending_st = spark.read.parquet(_os.path.join(vdir, "pending"))
        meta_row = spark.read.parquet(_os.path.join(vdir, "meta")).collect()[0]
        wm_old = int(meta_row["wm_micros"])
        committed_lineage = meta_row.asDict().get("lineage_id")
        # Attempt-marker check (same discipline as every other sink): the
        # pointer flip is the commit point and it happens AFTER the output
        # write, so committed batch_id >= incoming batch_id means this
        # batch_id fully committed — output for it is already on disk —
        # and foreachBatch merely redelivered before the streaming
        # checkpoint advanced. Recomputing here would run against the NEW
        # state (prior-batch pending already finalized and pruned,
        # keep_versions=1) and the idempotent overwrite of
        # out/ingest_batch=<id> would silently drop those rows. ``<=``
        # rather than ``==`` (ADVICE r16 #3): batch ids are monotone within
        # one checkpoint lineage, so an incoming id at or below the
        # committed one is always a replay of committed work — including a
        # fresh-checkpoint restart (ids restart at 0) pointed at an
        # existing state dir, which ``==`` would silently reprocess against
        # the pruned keep_versions=1 state. Reusing a state_path with a
        # fresh checkpoint is therefore a no-op until the new lineage's ids
        # pass the committed high-water mark, not a corruption. But a
        # silent multi-batch gap is operationally indistinguishable from
        # a healthy idle stream (VERDICT r17 what's-wrong #1), so a skip
        # that is NOT plain redelivery — strict batch_id < committed
        # (within one lineage only the last committed id redelivers), or
        # a recorded lineage id that differs from the incoming one — is
        # made loud: a warning plus an append-only marker row under
        # <state_path>/lineage_mismatch that monitoring can alert on.
        if int(batch_id) <= int(meta_row["batch_id"]):
            lineage_differs = (
                lineage_id is not None
                and committed_lineage is not None
                and str(lineage_id) != str(committed_lineage)
            )
            if int(batch_id) < int(meta_row["batch_id"]) or lineage_differs:
                _warnings.warn(
                    f"asof sink at {state_path}: skipping batch_id={batch_id} "
                    f"(lineage {lineage_id!r}) below committed high-water "
                    f"{int(meta_row['batch_id'])} (lineage "
                    f"{committed_lineage!r}) — a fresh-checkpoint lineage "
                    "over reused state is a no-op until its ids pass the "
                    "committed mark; if the new lineage's source gained "
                    "files, those events are NOT ingested by these skipped "
                    "batches (marker row written)",
                    stacklevel=2,
                )
                local_frame(
                    spark,
                    [
                        (
                            int(batch_id),
                            int(meta_row["batch_id"]),
                            str(lineage_id),
                            str(committed_lineage),
                        )
                    ],
                    "skipped_batch_id bigint, committed_batch_id bigint, "
                    "incoming_lineage string, committed_lineage string",
                ).coalesce(1).write.mode("append").parquet(
                    f"{state_path}/lineage_mismatch"
                )
            return
    else:
        clicks_ddl = "user_id bigint, ts timestamp, c_fp bigint, src_id bigint"
        clicks_st = local_frame(spark, [], clicks_ddl)
        pending_st = local_frame(spark, [], "event_id bigint, user_id bigint, ts timestamp")
        wm_old = -(1 << 62)

    mx = batch.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0]["m"]
    wm_new = max(wm_old, int(mx) - lateness_us) if mx is not None else wm_old

    all_clicks = (
        _collapse_clicks(batch)
        .unionByName(clicks_st)
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("c_fp", "src_id").alias("c_fp"),
            F.max("src_id").alias("src_id"),
        )
    )
    all_pending = pending_st.unionByName(
        batch.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
    ).dropDuplicates(["event_id"])

    fin = all_pending.filter(F.unix_micros("ts") <= F.lit(wm_new))
    attributed = _attribute_finalized(fin, all_clicks, horizon_minutes)
    # lineage cut before any write: every frame above reads the
    # committed version dir the publish below will supersede
    attributed = materialize.checkpoint(attributed, "attribution_sink:attributed")
    pend_new = materialize.checkpoint(
        all_pending.filter(F.unix_micros("ts") > F.lit(wm_new)), "attribution_sink:pending"
    )
    clicks_new = materialize.checkpoint(
        all_clicks.filter(F.unix_micros("ts") > F.lit(wm_new - horizon_us)),
        "attribution_sink:clicks",
    )

    # idempotent output first (a retry overwrites the same dir with
    # the same rows — it recomputes from the still-unflipped state),
    # then the atomic state swap: the pointer flip is the commit point
    attributed.write.mode("overwrite").parquet(
        f"{state_path}/out/ingest_batch={batch_id}"
    )

    def _write_state(vdir: str) -> None:
        clicks_new.write.parquet(_os.path.join(vdir, "clicks"))
        pend_new.write.parquet(_os.path.join(vdir, "pending"))
        meta = [(int(wm_new), int(batch_id), str(lineage_id))]
        ddl = "wm_micros bigint, batch_id bigint, lineage_id string"
        write_local(spark, meta, ddl, _os.path.join(vdir, "meta"))

    _commit.publish(state_dir, _write_state, keep_versions=1)


def sink_stream_asof_attribution(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    horizon_minutes: int = 60,
    lateness_minutes: int = 60,
):
    """Streaming point-in-time attribution (see section note). Emits one
    row per purchase into ``<state_path>/out/ingest_batch=<n>`` once the
    event-time watermark (max seen ts − lateness) passes the purchase;
    clicks and still-pending purchases live in a manifest-pointer
    committed state at ``<state_path>/state``."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        asof_attribution_apply_batch(
            batch,
            batch_id,
            state_path,
            horizon_minutes,
            lateness_minutes,
            lineage_id=checkpoint_lineage_id(checkpoint),
        )

    return _start(events_stream, _batch, checkpoint)


def stream_asof_attributions(spark: SparkSession, state_path: str) -> DataFrame:
    """All finalized attributions emitted so far (partition-discovered
    across ingest batches), one row per purchase."""
    return spark.read.parquet(f"{state_path}/out").drop("ingest_batch")


def stream_asof_pending(spark: SparkSession, state_path: str) -> DataFrame:
    """Purchases still awaiting finalization (watermark has not passed
    them) — the state-bound observability hook."""
    from ..warehouse import commit as _commit

    import os as _os

    return spark.read.parquet(
        _os.path.join(_commit.resolve(f"{state_path}/state"), "pending")
    )

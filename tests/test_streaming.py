"""Structured Streaming tests: replay the events stream with availableNow
triggers and assert bit-equality with the batch twins (stream/batch
unification), incremental exactly-once resume from a checkpoint, and the
custom stateful operator."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sql_data_warehouse_and_analytics_project_spark.materialize import released
from sql_data_warehouse_and_analytics_project_spark.sources import tpch
from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batches(spark, tmp_path_factory):
    """Split sf0.001 events into two file batches in one input dir."""
    base = tmp_path_factory.mktemp("stream")
    input_dir = str(base / "input")
    events = tpch.load(spark, SF_DIR, "events")
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(input_dir)
    return {"input": input_dir, "base": base, "events": events}


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def _input_df(spark, input_dir):
    """Batch view of whatever files are currently in the stream input dir —
    keeps each test order-independent (earlier tests may have appended
    batches)."""
    return spark.read.schema(jobs.EVENTS_SCHEMA).parquet(input_dir)


def test_hourly_stream_equals_batch(spark, events_batches):
    b = events_batches
    stream = jobs.read_events_stream(spark, b["input"])
    jobs.run_available_now(
        jobs.hourly_events(stream), "complete", "hourly_t1", str(b["base"] / "ckpt_hourly")
    )
    got = spark.sql("SELECT * FROM hourly_t1")
    expected = jobs.hourly_events(_input_df(spark, b["input"]))
    assert _rows(got) == _rows(expected)


@pytest.mark.slow
def test_incremental_resume_from_checkpoint(spark, events_batches):
    """Second file batch lands; resuming from the same checkpoint processes
    only the new files yet the complete-mode result covers all input —
    the streaming form of the watermark delta load (SURVEY §2.9 C1)."""
    b = events_batches
    b["events"].filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(b["input"])
    stream = jobs.read_events_stream(spark, b["input"], max_files_per_trigger=4)
    jobs.run_available_now(
        jobs.hourly_events(stream), "complete", "hourly_t2", str(b["base"] / "ckpt_hourly")
    )
    got = spark.sql("SELECT * FROM hourly_t2")
    expected = jobs.hourly_events(b["events"])  # full data now
    assert _rows(got) == _rows(expected)


@pytest.mark.slow
def test_sliding_window_stream_equals_batch(spark, events_batches):
    b = events_batches
    stream = jobs.read_events_stream(spark, b["input"])
    jobs.run_available_now(
        jobs.sliding_value_rate(stream), "complete", "sliding_t", str(b["base"] / "ckpt_slide")
    )
    inp = _input_df(spark, b["input"])
    got = spark.sql("SELECT * FROM sliding_t")
    expected = jobs.sliding_value_rate(inp)
    assert _rows(got) == _rows(expected)
    # overlap factor: every event lands in exactly 4 sliding windows
    n_events_total = got.agg(F.sum("n_events")).first()[0]
    assert n_events_total == inp.count() * 4


def test_session_windows_stream(spark, events_batches):
    b = events_batches
    stream = jobs.read_events_stream(spark, b["input"])
    jobs.run_available_now(
        jobs.user_sessions(stream), "complete", "sessions_t", str(b["base"] / "ckpt_sess")
    )
    inp = _input_df(spark, b["input"])
    got = spark.sql("SELECT * FROM sessions_t")
    expected = jobs.user_sessions(inp)
    assert _rows(got) == _rows(expected)
    # session invariant: per-user event counts are conserved
    per_user = got.groupBy("user_id").agg(F.sum("n_events").alias("n"))
    batch_per_user = inp.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert _rows(per_user) == _rows(batch_per_user)


def test_user_running_totals_stateful(spark, events_batches):
    b = events_batches
    stream = jobs.read_events_stream(spark, b["input"])
    jobs.run_available_now(
        jobs.user_running_totals(stream), "update", "totals_t", str(b["base"] / "ckpt_state")
    )
    got = spark.sql("SELECT user_id, MAX(total_events) AS n FROM totals_t GROUP BY user_id")
    batch = _input_df(spark, b["input"]).groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert _rows(got) == _rows(batch)


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """At-least-once replay (every file delivered twice) must come out
    exactly-once after dropDuplicatesWithinWatermark on event_id."""
    input_dir = str(tmp_path / "dup_input")
    events = tpch.load(spark, SF_DIR, "events").limit(400)
    events.write.mode("append").parquet(input_dir)
    events.write.mode("append").parquet(input_dir)  # duplicate delivery

    stream = jobs.read_events_stream(spark, input_dir)
    jobs.run_available_now(
        jobs.dedup_events_stream(stream),
        "append",
        "dedup_t1",
        str(tmp_path / "ckpt_dedup"),
    )
    got = spark.sql("SELECT * FROM dedup_t1")
    assert got.count() == got.select("event_id").distinct().count() == 400
    # row values survive intact (dedup drops copies, not columns)
    want = {tuple(r) for r in events.collect()}
    assert {tuple(r) for r in got.collect()} == want


def test_stream_static_enrich_equals_batch(spark, events_batches):
    """Stream-static broadcast join: replayed stream result equals the batch
    twin of the same join."""
    b = events_batches
    dim = tpch.load(spark, SF_DIR, "customer")
    stream = jobs.read_events_stream(spark, b["input"])
    jobs.run_available_now(
        jobs.enrich_events_stream(stream, dim),
        "append",
        "enrich_t1",
        str(b["base"] / "ckpt_enrich"),
    )
    got = spark.sql("SELECT * FROM enrich_t1")
    expected = jobs.enrich_events_stream(_input_df(spark, b["input"]), dim)
    assert _rows(got) == _rows(expected)


def test_stream_upsert_keeps_latest_per_key(spark, tmp_path):
    """foreachBatch streaming MERGE: after replaying two file batches with
    overlapping users, the table holds exactly the latest event per user —
    equal to the batch keep-latest over all input."""
    from pyspark.sql import Window

    from sql_data_warehouse_and_analytics_project_spark.warehouse.catalog import Catalog

    input_dir = str(tmp_path / "ups_input")
    events = tpch.load(spark, SF_DIR, "events").limit(600)
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(input_dir)

    cat = Catalog(spark, str(tmp_path / "wh"))
    stream = jobs.read_events_stream(spark, input_dir)
    q = jobs.sink_stream_upsert(
        stream, cat, "silver.user_latest", "user_id", "ts", str(tmp_path / "ck1")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    # second delivery: the other half, overlapping user_ids
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(input_dir)
    stream = jobs.read_events_stream(spark, input_dir)
    q = jobs.sink_stream_upsert(
        stream, cat, "silver.user_latest", "user_id", "ts", str(tmp_path / "ck1")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    got = cat.read("silver.user_latest")
    assert got.count() == got.select("user_id").distinct().count()
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
    expected = (
        events.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    )
    # compare per-user (ts, value): ties on ts may pick either event_id
    g = {(r["user_id"], r["ts"]) for r in got.collect()}
    e = {(r["user_id"], r["ts"]) for r in expected.collect()}
    assert g == e


def test_stream_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale guard (VERDICT r03 #3): a microbatch must rewrite ONLY the
    key-bucket partitions it touches — every file in an untouched bucket is
    byte-identical after the merge (no full-table write amplification)."""
    import hashlib
    import os

    from sql_data_warehouse_and_analytics_project_spark.warehouse.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    input_dir = str(tmp_path / "ups_input")
    events = tpch.load(spark, SF_DIR, "events").limit(400)
    events.write.mode("append").parquet(input_dir)

    def run():
        stream = jobs.read_events_stream(spark, input_dir)
        q = jobs.sink_stream_upsert(
            stream, cat, "silver.user_latest_b", "user_id", "ts", str(tmp_path / "ck")
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    def snapshot():
        # walk the committed version dir (the bootstrap overwrite publishes
        # via the manifest-pointer commit; later microbatches
        # dynamic-overwrite partitions within that same version)
        root = cat.data_dir("silver.user_latest_b")
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    run()
    before = snapshot()
    assert len({p.split("/")[0] for p in before}) > 1, "need >1 bucket for the test to bind"

    # second microbatch: ONE key → exactly one touched bucket
    one = events.orderBy("event_id").limit(1)
    touched = one.select(jobs.upsert_key_bucket("user_id").alias("b")).first()["b"]
    one.write.mode("append").parquet(input_dir)
    run()
    after = snapshot()

    prefix = f"_key_bucket={touched}"
    untouched_before = {p: h for p, h in before.items() if not p.startswith(prefix)}
    untouched_after = {p: h for p, h in after.items() if not p.startswith(prefix)}
    assert untouched_before == untouched_after, "untouched bucket files changed"
    # and the merge is still correct: one row per user, latest ts
    got = cat.read("silver.user_latest_b")
    assert got.count() == got.select("user_id").distinct().count()


@pytest.mark.slow
def test_stream_neardedup_redelivery_exact_confirm_compaction(spark, tmp_path):
    """r7 (VERDICT r6 asks #3/#4 + ADVICE): three sink behaviors on one
    two-batch stream —

    - EXACT cross-batch confirm: doc B is constructed (against the fixed
      hash parameters) with exact Jaccard 0.782 < 0.8 against indexed doc A
      but signature-ESTIMATED Jaccard 0.8125 ≥ 0.8; the est-only sink would
      falsely drop it, the exact-confirm sink must keep it. Doc C (exact
      0.903) must be dropped. Both are banding candidates of A by
      construction.
    - redelivery: docs accepted in batch 0 and redelivered in batch 1 must
      not re-enter the output (doc_id-unique across batch directories),
      while genuinely new docs in batch 1 are kept.
    - compaction cadence: with compact_every_batches=1 the index is
      compacted after every batch — each component ends at one file — and
      the survivor set is identical to an uncompacted run."""
    import os

    base = [f"tok{i:03d}" for i in range(100)]
    a_text = " ".join(base)
    b_text = " ".join(base[:88] + [f"u20x{j}" for j in range(12)])
    c_text = " ".join(base[:95] + ["vv0", "vv1", "vv2", "vv3", "vv4"])

    def uniq(i):
        return f"unique document number {i} " + " ".join(f"w{i}x{j}" for j in range(8))

    schema = "doc_id bigint, lang string, text string"
    batch1 = [(1, "en", a_text)] + [(i, "en", uniq(i)) for i in range(10, 20)]
    redelivered = [(i, "en", uniq(i)) for i in range(10, 15)]
    batch2 = (
        [(2, "en", b_text), (3, "en", c_text)]
        + redelivered
        + [(i, "en", uniq(i)) for i in range(20, 25)]
    )

    def run(tag, **sink_kwargs):
        root = tmp_path / tag
        input_dir, out, ix = str(root / "in"), str(root / "out"), str(root / "ix")
        for n, rows in enumerate([batch1, batch2]):
            spark.createDataFrame(rows, schema).write.mode("append").parquet(
                f"{input_dir}/delivery={n}"
            )
            stream = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
            q = jobs.sink_stream_neardedup(
                stream, ix, out, str(root / "ck"), **sink_kwargs
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        return root, out, ix

    root, out, ix = run("compacted", compact_every_batches=1)
    rows = spark.read.parquet(out).select("doc_id").collect()
    kept = sorted(r["doc_id"] for r in rows)
    # doc_id-unique across batch dirs: redelivered 10..14 appear once
    assert len(kept) == len(set(kept)), kept
    assert set(kept) == {1, 2} | set(range(10, 25)), kept  # B kept, C dropped
    # compaction after every batch: one file per flat component
    for comp in ("signatures", "members", "ingested"):
        files = [f for f in os.listdir(f"{ix}/{comp}") if f.endswith(".parquet")]
        assert len(files) == 1, (comp, files)

    # uncompacted twin produces the identical survivor set with more files
    _, out2, ix2 = run("plain", compact_every_batches=None)
    kept2 = sorted(
        r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()
    )
    assert kept2 == kept
    sig_files = [f for f in os.listdir(f"{ix2}/signatures") if f.endswith(".parquet")]
    assert len(sig_files) > 1, sig_files


@pytest.mark.slow
def test_stream_embeddings_ingest_builds_queryable_ivf(spark, tmp_path):
    """sink_stream_embeddings (r7): the first microbatch trains and builds
    the IVF index, later batches append against the stored centroids, and
    the streamed index answers ivf_search identically to the batch
    build+append API over the same splits (deterministic training). A
    redelivered batch (at-least-once source) must not double-append —
    stored vec_ids stay unique and search answers unchanged — and the
    staleness audit lands with per-list growth rows."""
    from sql_data_warehouse_and_analytics_project_spark.operators import similarity as sim
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    emb = tpch.load(spark, SF_DIR, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    in_dir = str(tmp_path / "emb_in")
    ix = str(tmp_path / "emb_ix")

    def deliver_and_run(df):
        df.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(emb.schema).parquet(in_dir)
        q = jobs.sink_stream_embeddings(
            stream,
            ix,
            str(tmp_path / "ck"),
            n_lists=8,
            staleness_every_batches=1,
            compact_every_batches=1,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    deliver_and_run(a)
    deliver_and_run(b)

    # batch twin: same splits through the batch API, same trained centroids
    ix2 = str(tmp_path / "emb_ix_batch")
    sim.build_ivf_index(a, ix2, n_lists=8)
    sim.append_ivf_index(b, ix2)
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    qvec = [float(x) for x in qrow["embedding"]]
    got = [tuple(r) for r in sim.ivf_search(spark, ix, qvec, k=11, n_probes=3).collect()]
    twin = [tuple(r) for r in sim.ivf_search(spark, ix2, qvec, k=11, n_probes=3).collect()]
    assert got == twin

    stored = sorted(r["vec_id"] for r in spark.read.parquet(f"{ix}/vectors").collect())
    assert stored == sorted(r["vec_id"] for r in emb.select("vec_id").collect())

    # redelivery of batch B's rows as a NEW file: dropped by the sidecar
    deliver_and_run(b)
    stored2 = sorted(r["vec_id"] for r in spark.read.parquet(f"{ix}/vectors").collect())
    assert stored2 == stored
    got2 = [tuple(r) for r in sim.ivf_search(spark, ix, qvec, k=11, n_probes=3).collect()]
    assert got2 == got

    # staleness audit written with the compacting batch ids
    audit_rows = spark.read.parquet(f"{ix}/audit/staleness").collect()
    assert audit_rows and {r["batch_id"] for r in audit_rows} >= {0, 1}
    assert sum(r["n_now"] for r in audit_rows if r["batch_id"] == 1) == emb.count()

    # per-batch compaction keeps every list directory at one file
    import os

    for d in os.listdir(f"{ix}/vectors"):
        if d.startswith("list_id="):
            files = [f for f in os.listdir(f"{ix}/vectors/{d}") if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)


@pytest.mark.slow
def test_stream_neardedup_across_batches(spark, tmp_path):
    """sink_stream_neardedup (r6): two file deliveries are near-dedup'd
    within each microbatch AND against the growing signature index — for
    every planted near-dup pair at exact Jaccard >= 0.95 exactly one member
    survives (regardless of which delivery each member arrived in), every
    doc outside any such pair survives, and the output never shrinks
    retroactively (append-only acceptance)."""
    from sql_data_warehouse_and_analytics_project_spark.operators import dedup

    docs = tpch.load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    with released():
        truth = {
            (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs(docs).collect()
        }
    strong = {p for p, j in truth.items() if j >= 0.95}
    in_strong = {d for p in strong for d in p}
    assert strong, "testdata lost its planted near-dups"

    input_dir = str(tmp_path / "docs_in")
    out = str(tmp_path / "accepted")
    ix = str(tmp_path / "sigix")
    schema = "doc_id bigint, lang string, text string"

    def deliver_and_run(pred):
        docs.filter(pred).write.mode("append").parquet(input_dir)
        stream = spark.readStream.schema(schema).parquet(input_dir)
        q = jobs.sink_stream_neardedup(stream, ix, out, str(tmp_path / "ck"))
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    deliver_and_run(F.col("doc_id") % 2 == 0)
    n_after_first = spark.read.parquet(out).count()
    deliver_and_run(F.col("doc_id") % 2 == 1)

    kept = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert len(kept) >= n_after_first  # append-only acceptance
    # no strong pair survives intact (the definition of near-dedup)
    for a, b in strong:
        assert not (a in kept and b in kept), (a, b)
    # at least one representative per near-dup connected component survives
    # (a member may be dropped via a TRANSITIVE match against an accepted
    # cluster-mate, so per-pair "exactly one" is too strict — e.g. clusters
    # {x, a, b} where x was accepted first and both a and b match x)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in truth:
        parent[find(a)] = find(b)
    comps: dict = {}
    for d in {x for p in truth for x in p}:
        comps.setdefault(find(d), set()).add(d)
    for root, members in comps.items():
        assert members & kept, f"whole near-dup component dropped: {sorted(members)}"
    # docs in no truth pair at the 0.8 threshold are never dropped
    in_any = {d for p in truth for d in p}
    missing = ({r["doc_id"] for r in docs.collect()} - in_any) - kept
    assert not missing, f"non-duplicate docs were dropped: {sorted(missing)[:10]}"


@pytest.mark.slow
def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """attribute_purchases: the stream-stream interval join over replayed
    file batches produces exactly the rows of the batch interval join, and
    the planted corpus pins the matching rules — in-horizon purchase
    matches, out-of-horizon and pre-view purchases don't, cross-user never,
    one purchase can attribute to several views. The two sides arrive as
    SEPARATE file batches (views first, purchases a batch later), the
    arrival asymmetry only a stream-stream join survives."""
    from datetime import datetime as dt

    input_dir = str(tmp_path / "input")
    ckpt = str(tmp_path / "ckpt")

    def ev(eid, minute, user, etype):
        return (eid, dt(2024, 3, 1, 10 + minute // 60, minute % 60), user, etype, 1.0, "{}")

    views = [ev(1, 0, 7, "view"), ev(2, 30, 7, "view"), ev(3, 0, 8, "view")]
    purchases = [
        ev(10, 45, 7, "purchase"),   # matches views 1 (45m) and 2 (15m)
        ev(11, 90, 7, "purchase"),   # matches view 2 only (view 1 is 90m back)
        ev(12, 200, 8, "purchase"),  # out of horizon for view 3
        ev(13, 10, 9, "purchase"),   # user with no view
    ]
    spark.createDataFrame(views, schema=jobs.EVENTS_SCHEMA).write.mode(
        "append"
    ).parquet(input_dir)
    spark.createDataFrame(purchases, schema=jobs.EVENTS_SCHEMA).write.mode(
        "append"
    ).parquet(input_dir)

    stream = jobs.read_events_stream(spark, input_dir, max_files_per_trigger=1)
    jobs.run_available_now(
        jobs.attribute_purchases(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
        ),
        "append",
        "attrib_t1",
        ckpt,
    )
    got = spark.sql("SELECT * FROM attrib_t1")
    batch = spark.read.schema(jobs.EVENTS_SCHEMA).parquet(input_dir)
    expected = jobs.attribute_purchases(
        batch.filter(F.col("event_type") == "view"),
        batch.filter(F.col("event_type") == "purchase"),
    )
    assert _rows(got) == _rows(expected)
    pairs = {(r["purchase_id"], r["view_id"]) for r in got.collect()}
    assert pairs == {(10, 1), (10, 2), (11, 2)}, pairs
    for r in got.collect():
        delta = (r["purchase_ts"] - r["view_ts"]).total_seconds()
        assert 0 <= delta <= 3600


@pytest.mark.slow
def test_stream_inverted_index_ingest_serves_bm25(spark, tmp_path):
    """sink_stream_inverted_index (r11): the first microbatch builds the
    persisted index, later batches fold in incrementally, and the
    streamed index answers bm25_search_indexed identically to the batch
    build+append API over the same splits. A redelivered batch must not
    double postings/df/stats, and per-batch compaction keeps one file
    per bucket directory."""
    import os

    from sql_data_warehouse_and_analytics_project_spark.operators import retrieval as rt
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    docs = tpch.load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    in_dir = str(tmp_path / "doc_in")
    ix = str(tmp_path / "doc_ix")

    def deliver_and_run(df):
        df.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        q = jobs.sink_stream_inverted_index(
            stream, ix, str(tmp_path / "ck"), n_buckets=16, compact_every_batches=1
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    deliver_and_run(a)
    deliver_and_run(b)

    ix2 = str(tmp_path / "doc_ix_batch")
    rt.build_inverted_index(a, ix2, n_buckets=16)
    rt.append_inverted_index(b, ix2)
    got = [tuple(r) for r in rt.bm25_search_indexed(spark, ix, rt._IDX_TERMS).collect()]
    twin = [tuple(r) for r in rt.bm25_search_indexed(spark, ix2, rt._IDX_TERMS).collect()]
    assert got == twin and got

    s1 = spark.read.parquet(f"{ix}/stats").first()
    assert s1["n_docs"] == docs.count()

    # redelivery of batch B as a NEW file: anti-joined away, index unchanged
    deliver_and_run(b)
    s2 = spark.read.parquet(f"{ix}/stats").first()
    assert (s2["n_docs"], s2["sum_dl"]) == (s1["n_docs"], s1["sum_dl"])
    got2 = [tuple(r) for r in rt.bm25_search_indexed(spark, ix, rt._IDX_TERMS).collect()]
    assert got2 == got

    # per-batch compaction: one file per bucket dir in both tables
    for table in ("postings", "terms"):
        for d in os.listdir(f"{ix}/{table}"):
            if d.startswith("bucket="):
                parqs = [
                    f
                    for f in os.listdir(f"{ix}/{table}/{d}")
                    if f.endswith(".parquet")
                ]
                assert len(parqs) == 1, (table, d, parqs)


@pytest.mark.parametrize("crash_state", ["sidecar_only", "postings_too", "full_append"])
@pytest.mark.slow
def test_stream_inverted_index_retry_heals_partial_append(spark, tmp_path, crash_state):
    """ADVICE r11 (medium): a crash between the ingested-sidecar write and
    the index append used to PERMANENTLY lose the batch — the retry
    anti-joined its own recorded doc_ids away and returned early. The fix
    excludes the current batch_id from the anti-join and routes a
    detected retry onto repair_append_inverted_index, which converges
    from every crash point: sidecar written only, sidecar + postings
    appended (terms/stats stale), or the full append done but the
    checkpoint uncommitted. Each state must end bit-identical to the
    batch-API twin."""
    from sql_data_warehouse_and_analytics_project_spark.operators import retrieval as rt
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    docs = tpch.load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    in_dir = str(tmp_path / "doc_in")
    ix = str(tmp_path / "doc_ix")

    def deliver_and_run(df):
        df.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        q = jobs.sink_stream_inverted_index(
            stream, ix, str(tmp_path / "ck"), n_buckets=16, compact_every_batches=None
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    deliver_and_run(a)  # batch 0 builds the index

    # plant the dead attempt of the upcoming batch 1
    b.select("doc_id", F.lit(1).cast("bigint").alias("batch_id")).write.mode(
        "append"
    ).parquet(f"{ix}/ingested")
    if crash_state in ("postings_too", "full_append"):
        if crash_state == "postings_too":  # postings landed, terms/stats stale
            rt.doc_postings(b).withColumn(
                "bucket", rt._term_bucket_col(F.col("term"), 16)
            ).write.mode("append").partitionBy("bucket").parquet(f"{ix}/postings")
        else:  # everything landed, only the checkpoint commit was lost
            rt.append_inverted_index(b, ix)

    deliver_and_run(b)  # the mandatory same-batch retry (batch_id 1)

    ix2 = str(tmp_path / "doc_ix_batch")
    rt.build_inverted_index(a, ix2, n_buckets=16)
    rt.append_inverted_index(b, ix2)
    got = [tuple(r) for r in rt.bm25_search_indexed(spark, ix, rt._IDX_TERMS).collect()]
    twin = [tuple(r) for r in rt.bm25_search_indexed(spark, ix2, rt._IDX_TERMS).collect()]
    assert got == twin and got, crash_state

    s, t = (spark.read.parquet(f"{p}/stats").first() for p in (ix, ix2))
    assert (s["n_docs"], s["sum_dl"], s["avgdl"]) == (
        t["n_docs"], t["sum_dl"], t["avgdl"],
    ), crash_state

    # no doubled postings row anywhere and no doc lost
    posts = spark.read.parquet(f"{ix}/postings")
    assert posts.count() == posts.select("doc_id", "term").distinct().count()
    assert posts.select("doc_id").distinct().count() == docs.count()

    # terms df agrees with a fresh postings aggregation (no stale delta)
    terms = spark.read.parquet(f"{ix}/terms").select("bucket", "term", "df")
    fresh = posts.groupBy("bucket", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    assert terms.exceptAll(fresh).isEmpty() and fresh.exceptAll(terms).isEmpty()


@pytest.mark.parametrize("crash_state", ["sidecar_only", "half_appended"])
@pytest.mark.slow
def test_stream_embeddings_retry_heals_partial_append(spark, tmp_path, crash_state):
    """Same ADVICE r11 bug class in the vector sink: vec_ids recorded in
    the sidecar by a dead attempt must not be anti-joined away on the
    retry; the retry re-appends exactly the vectors missing from the
    stored table (the IVF index keeps no derived delta state, so the
    missing-only append alone converges)."""
    from sql_data_warehouse_and_analytics_project_spark.operators import similarity as sim
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    emb = tpch.load(spark, SF_DIR, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    in_dir = str(tmp_path / "emb_in")
    ix = str(tmp_path / "emb_ix")

    def deliver_and_run(df):
        df.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(emb.schema).parquet(in_dir)
        q = jobs.sink_stream_embeddings(
            stream, ix, str(tmp_path / "ck"), n_lists=8,
            staleness_every_batches=0, compact_every_batches=None,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    deliver_and_run(a)  # batch 0 trains + builds

    # plant the dead attempt of batch 1
    b.select("vec_id", F.lit(1).cast("bigint").alias("batch_id")).write.mode(
        "append"
    ).parquet(f"{ix}/ingested")
    if crash_state == "half_appended":
        sim.append_ivf_index(b.filter(F.col("vec_id") % 4 == 1), ix)

    deliver_and_run(b)  # the mandatory same-batch retry

    ix2 = str(tmp_path / "emb_ix_batch")
    sim.build_ivf_index(a, ix2, n_lists=8)
    sim.append_ivf_index(b, ix2)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [tuple(r) for r in sim.ivf_search(spark, ix, qvec, k=11, n_probes=3).collect()]
    twin = [tuple(r) for r in sim.ivf_search(spark, ix2, qvec, k=11, n_probes=3).collect()]
    assert got == twin and got, crash_state

    stored = [r["vec_id"] for r in spark.read.parquet(f"{ix}/vectors").collect()]
    assert sorted(stored) == sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    assert len(stored) == len(set(stored)), crash_state


@pytest.mark.parametrize("crash_state", ["sig_only", "sig_bands"])
@pytest.mark.slow
def test_stream_neardedup_retry_heals_partial_component_append(
    spark, tmp_path, crash_state
):
    """r12 (same class as the ADVICE r11 sink fixes): the near-dedup index
    append is THREE component writes (signatures, bands, members); the old
    retry keyed on signatures alone, so a crash between the writes left a
    doc signed-but-unbanded (unfindable by the band join) or absent from
    members (hits dropped at the inner join) forever. A detected retry
    must now converge every component to the clean-run twin."""
    from sql_data_warehouse_and_analytics_project_spark.operators import dedup
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    docs = tpch.load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)

    def run_sink(tag, df):
        in_dir = str(tmp_path / f"in_{tag}")
        df.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        q = jobs.sink_stream_neardedup(
            stream,
            str(tmp_path / f"ix_{tag}"),
            str(tmp_path / f"out_{tag}"),
            str(tmp_path / f"ck_{tag}"),
            compact_every_batches=None,
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    # clean twin: batches A then B
    run_sink("twin", a)
    run_sink("twin", b)
    twin = str(tmp_path / "ix_twin")

    # crash run: batch A, then PLANT the dead attempt of batch 1
    run_sink("crash", a)
    crash = str(tmp_path / "ix_crash")
    side_b = spark.read.parquet(f"{twin}/ingested").filter(F.col("batch_id") == 1)
    assert side_b.take(1), "twin batch 1 accepted nothing — fixture too small"
    side_b.write.mode("append").parquet(f"{crash}/ingested")
    for table, planted in (("signatures", True), ("bands", crash_state == "sig_bands")):
        if not planted:
            continue
        twin_rows = spark.read.parquet(f"{twin}/{table}")
        have = spark.read.parquet(f"{crash}/{table}").select("doc_id").distinct()
        delta = twin_rows.join(have, "doc_id", "left_anti").localCheckpoint(eager=True)
        w = delta.write.mode("append")
        if table == "bands":
            w = w.partitionBy("band")
        w.parquet(f"{crash}/{table}")

    run_sink("crash", b)  # the mandatory same-batch retry (batch_id 1)

    for table in ("signatures", "bands", "members"):
        got = sorted(map(repr, spark.read.parquet(f"{crash}/{table}").collect()))
        want = sorted(map(repr, spark.read.parquet(f"{twin}/{table}").collect()))
        assert got == want, (crash_state, table)

    out_got = sorted(
        map(repr, spark.read.parquet(str(tmp_path / "out_crash")).collect())
    )
    out_want = sorted(
        map(repr, spark.read.parquet(str(tmp_path / "out_twin")).collect())
    )
    assert out_got == out_want, crash_state

    # the healed index answers probes identically to the twin
    probe = docs.limit(50)
    hits_c = sorted(
        map(repr, dedup.query_minhash_index(spark, crash, probe).collect())
    )
    hits_t = sorted(
        map(repr, dedup.query_minhash_index(spark, twin, probe).collect())
    )
    assert hits_c == hits_t, crash_state


@pytest.mark.slow
def test_stream_corpus_sketch_equals_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming md5-HLL sink (r12): after draining three batches the
    committed register state must equal the ONE-SHOT batch sketch over
    the union EXACTLY (MAX-merge loses nothing), and a full redelivery
    replay (fresh checkpoint, same input) must leave the state
    unchanged — the no-sidecar idempotency claim."""
    import os

    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import approx
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(input_dir)
    schema = "doc_id bigint, text string"
    batches = [
        [(i, f"alpha beta tok{i} tok{i * 7}") for i in range(20)],
        [(100 + i, f"gamma tok{i} word{i}") for i in range(20)],
        [(200 + i, f"alpha word{i} fresh{i}") for i in range(20)],
    ]
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )

    stream = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
    q = jobs.sink_stream_corpus_sketch(stream, state, str(tmp_path / "ckpt1"))
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    got = jobs.stream_sketch_estimate(spark, state).first()
    all_docs = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    terms = all_docs.select(
        F.explode(
            F.transform(F.split(F.trim("text"), r"\s+"), lambda x: F.lower(x))
        ).alias("term")
    )
    want = approx.hll_estimate(approx.hll_registers(terms, "term")).first()
    assert got == want, (got, want)

    # full redelivery with a fresh checkpoint: every batch re-merges; the
    # state must be bit-identical afterwards (idempotent monoid, no sidecar)
    q2 = jobs.sink_stream_corpus_sketch(stream, state, str(tmp_path / "ckpt2"))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    again = jobs.stream_sketch_estimate(spark, state).first()
    assert again == want, (again, want)


@pytest.mark.slow
def test_stream_winnow_index_sink_equals_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming winnow-index ingest (r13): after draining three batches
    (with a mid-stream compaction at batch 2) the index must answer a
    probe query identically to one built fresh over the union, and a
    full redelivery (fresh checkpoint) must leave the fingerprint table
    row-identical — the no-sidecar single-component-repair argument."""
    import os

    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from sql_data_warehouse_and_analytics_project_spark.operators import winnow
    from sql_data_warehouse_and_analytics_project_spark.sources import tpch
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    docs = tpch.load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    stored = docs.filter(F.col("doc_id") % 5 != 0)
    probe = docs.filter(F.col("doc_id") % 5 == 0)

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for bi in range(3):
        stored.filter(F.col("doc_id") % 3 == bi).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
    schema = "doc_id bigint, lang string, text string"
    # one file per micro-batch: availableNow would otherwise fold all
    # three files into batch 0 and the mid-stream compaction never fires
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{input_dir}/*")
    )

    idx = str(tmp_path / "idx")
    q = jobs.sink_stream_winnow_index(
        stream, idx, str(tmp_path / "ck1"), compact_every_batches=2
    )
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    fresh = str(tmp_path / "fresh")
    winnow.build_winnow_index(stored, fresh)
    got = winnow.query_winnow_index(spark, idx, probe).collect()
    want = winnow.query_winnow_index(spark, fresh, probe).collect()
    assert got == want and len(got) > 0

    rows_before = sorted(
        map(repr, spark.read.parquet(f"{idx}/fingerprints").select("doc_id", "h").collect())
    )
    q2 = jobs.sink_stream_winnow_index(
        stream, idx, str(tmp_path / "ck2"), compact_every_batches=None
    )
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    rows_after = sorted(
        map(repr, spark.read.parquet(f"{idx}/fingerprints").select("doc_id", "h").collect())
    )
    assert rows_after == rows_before
    # compaction audit landed with the compacting batch id (batch 1),
    # keyed on its batch_id partition
    audit = spark.read.parquet(f"{idx}/audit/bucket_overflow")
    assert set(audit.columns) == {"h", "n_members", "trimmed", "batch_id"}
    audit_rows_before = audit.count()

    # a redelivered COMPACTING run (fresh checkpoint, compaction enabled)
    # must overwrite its own batch_id partition, not append duplicate
    # audit rows (r13 ADVICE: the one replay surface the fingerprint
    # table's convergence argument did not cover)
    q3 = jobs.sink_stream_winnow_index(
        stream, idx, str(tmp_path / "ck3"), compact_every_batches=2
    )
    q3.processAllAvailable(); q3.stop(); q3.awaitTermination()
    assert (
        spark.read.parquet(f"{idx}/audit/bucket_overflow").count()
        == audit_rows_before
    )


@pytest.mark.slow
def test_stream_cms_and_hist_sinks_equal_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming CMS + histogram sinks (r13): after draining three batches
    the merged state must equal the ONE-SHOT batch sketch over the union
    EXACTLY, and a full redelivery (fresh checkpoint, same input) must
    leave it bit-identical. SUM-merge is NOT idempotent, so this pins the
    per-batch_id overwrite discipline — a redelivered batch replaces its
    own partition instead of double-counting into a merged total."""
    import os

    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import approx
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    schema = "doc_id bigint, text string"
    batches = [
        [(i, f"alpha beta tok{i} tok{i * 7}") for i in range(20)],
        [(100 + i, f"gamma tok{i} word{i} alpha") for i in range(20)],
        [(200 + i, f"alpha word{i} fresh{i}") for i in range(20)],
    ]
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
    all_docs = spark.createDataFrame([r for rows in batches for r in rows], schema)

    # --- CMS ---
    cms_state = str(tmp_path / "cms_state")
    stream = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
    q = jobs.sink_stream_cms_sketch(stream, cms_state, str(tmp_path / "cms_ck1"))
    q.processAllAvailable(); q.stop(); q.awaitTermination()

    terms = all_docs.select(
        F.explode(
            F.transform(F.split(F.trim("text"), r"\s+"), lambda x: F.lower(x))
        ).alias("term")
    )
    want_cells = sorted(
        map(repr, approx.cms_table(terms).select("row", "bucket", "cnt").collect())
    )
    got_cells = sorted(
        map(repr, jobs.stream_cms_cells(spark, cms_state).select("row", "bucket", "cnt").collect())
    )
    assert got_cells == want_cells

    # point estimates through the streamed state match the batch sketch
    probes = spark.createDataFrame([("alpha",), ("never-seen-xyzzy",)], "term string")
    got_est = {
        r["term"]: r["cms_estimate"]
        for r in approx.cms_estimate(
            jobs.stream_cms_cells(spark, cms_state), probes
        ).collect()
    }
    assert got_est["alpha"] == 60 and got_est["never-seen-xyzzy"] == 0, got_est

    # full redelivery: fresh checkpoint, same input -> bit-identical state
    q2 = jobs.sink_stream_cms_sketch(stream, cms_state, str(tmp_path / "cms_ck2"))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    again = sorted(
        map(repr, jobs.stream_cms_cells(spark, cms_state).select("row", "bucket", "cnt").collect())
    )
    assert again == want_cells

    # --- histogram ---
    hist_state = str(tmp_path / "hist_state")
    q3 = jobs.sink_stream_hist_sketch(stream, hist_state, str(tmp_path / "h_ck1"))
    q3.processAllAvailable(); q3.stop(); q3.awaitTermination()

    vals = all_docs.select(F.length("text").alias("v"))
    want_q = sorted(
        map(repr, approx.hist_quantiles(approx.hist_bins(vals, "v")).collect())
    )
    got_q = sorted(map(repr, jobs.stream_hist_quantiles(spark, hist_state).collect()))
    assert got_q == want_q

    q4 = jobs.sink_stream_hist_sketch(stream, hist_state, str(tmp_path / "h_ck2"))
    q4.processAllAvailable(); q4.stop(); q4.awaitTermination()
    assert (
        sorted(map(repr, jobs.stream_hist_quantiles(spark, hist_state).collect()))
        == want_q
    )


@pytest.mark.slow
def test_stream_eval_monitor_equals_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming classifier-eval monitor (r13): after draining three
    labeled batches, the merged (score_key, p, q) state, the AUC row and
    the PR sweep must equal the ONE-SHOT batch metrics over the union
    EXACTLY; a full redelivery (fresh checkpoint, same input) must leave
    all three bit-identical — the per-batch_id overwrite discipline on a
    SUM-merge monoid (same argument as the CMS/histogram sinks)."""
    import os

    from sql_data_warehouse_and_analytics_project_spark.operators import evalmetrics as ev
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    schema = "doc_id bigint, lang string, text string"
    batches = [
        [(i, "en" if i % 2 else "de", f"the and tok{i} of is x{i % 3}") for i in range(20)],
        [(100 + i, "en" if i % 3 else "fr", f"the word{i} y z") for i in range(20)],
        [(200 + i, "de", f"plain tok{i} text w{i % 5}") for i in range(10)],
    ]
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
    all_docs = spark.createDataFrame([r for rows in batches for r in rows], schema)

    state = str(tmp_path / "eval_state")
    stream = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
    q = jobs.sink_stream_eval_counts(stream, state, str(tmp_path / "ev_ck1"))
    q.awaitTermination(120)

    want_counts = sorted(
        map(repr, ev._score_counts(ev.score_label(all_docs)).collect())
    )
    got_counts = sorted(map(repr, jobs.stream_eval_counts(spark, state).collect()))
    assert got_counts == want_counts

    want_auc = [repr(r) for r in ev.roc_auc(all_docs).collect()]
    got_auc = [repr(r) for r in jobs.stream_roc_auc(spark, state).collect()]
    assert got_auc == want_auc

    want_pr = [repr(r) for r in ev.pr_curve(all_docs).collect()]
    got_pr = [repr(r) for r in jobs.stream_pr_curve(spark, state).collect()]
    assert got_pr == want_pr

    want_lift = [repr(r) for r in ev.lift_deciles(all_docs).collect()]
    got_lift = [repr(r) for r in jobs.stream_lift_deciles(spark, state).collect()]
    assert got_lift == want_lift

    # full redelivery: fresh checkpoint, same input — state bit-identical
    stream2 = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
    q2 = jobs.sink_stream_eval_counts(stream2, state, str(tmp_path / "ev_ck2"))
    q2.awaitTermination(120)
    assert sorted(map(repr, jobs.stream_eval_counts(spark, state).collect())) == want_counts
    assert [repr(r) for r in jobs.stream_roc_auc(spark, state).collect()] == want_auc


@pytest.mark.slow
def test_stream_ab_monitor_equals_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming A/B experiment monitor (r16): after draining three event
    batches — with USERS SPANNING BATCHES, the case the per-user
    SUM-merge exists for — the merged unit table, the Mann-Whitney row,
    and the KS row must equal the one-shot batch operators over the
    union EXACTLY; a full redelivery (fresh checkpoint, same input)
    leaves all three bit-identical."""
    import os

    from datetime import datetime as dt, timedelta

    from sql_data_warehouse_and_analytics_project_spark.operators import abstats
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    t0 = dt(2024, 4, 1)
    eid = 0

    def ev(minute, user, etype, value):
        nonlocal eid
        eid += 1
        return (eid, t0 + timedelta(minutes=minute), user, etype, value, "{}")

    # users 1..12; purchases split across batches so per-user totals only
    # exist after the read-time merge; users 11/12 never purchase (zero
    # units must still be counted)
    batches = [
        [ev(i, 1 + i % 6, "purchase", 3.25 + i) for i in range(8)]
        + [ev(50 + i, 7 + i % 4, "click", 1.0) for i in range(4)],
        [ev(100 + i, 1 + i % 6, "purchase", 7.5 + 2 * i) for i in range(6)]
        + [ev(150, 11, "view", 0.0), ev(151, 12, "view", 0.0)],
        [ev(200 + i, 4 + i % 8, "purchase", 0.99 * (i + 1)) for i in range(7)],
    ]
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema=jobs.EVENTS_SCHEMA).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
    all_events = spark.createDataFrame(
        [r for rows in batches for r in rows], schema=jobs.EVENTS_SCHEMA
    )

    state = str(tmp_path / "ab_state")
    stream = jobs.read_events_stream(spark, f"{input_dir}/*")
    jobs.sink_stream_ab_units(stream, state, str(tmp_path / "ab_ck1")).awaitTermination(120)

    want_units = sorted(map(repr, abstats._per_user_metric(all_events).collect()))
    got_units = sorted(map(repr, jobs.stream_ab_units(spark, state).collect()))
    assert got_units == want_units

    want_mwu = [repr(r) for r in abstats.mann_whitney_u(abstats._per_user_metric(all_events)).collect()]
    got_mwu = [repr(r) for r in jobs.stream_mann_whitney(spark, state).collect()]
    assert got_mwu == want_mwu

    want_ks = [repr(r) for r in abstats.ks_two_sample(abstats._per_user_metric(all_events)).collect()]
    got_ks = [repr(r) for r in jobs.stream_ks_two_sample(spark, state).collect()]
    assert got_ks == want_ks

    # full redelivery: fresh checkpoint, same input — state bit-identical
    stream2 = jobs.read_events_stream(spark, f"{input_dir}/*")
    jobs.sink_stream_ab_units(stream2, state, str(tmp_path / "ab_ck2")).awaitTermination(120)
    assert sorted(map(repr, jobs.stream_ab_units(spark, state).collect())) == want_units
    assert [repr(r) for r in jobs.stream_mann_whitney(spark, state).collect()] == want_mwu


@pytest.mark.slow
def test_stream_embed_stats_equals_batch_and_replay_is_noop(spark, tmp_path):
    """Streaming embedding-statistics sink (r13): after draining three
    batches, the merged Gram/dim state must equal the one-shot batch
    statistics over the union EXACTLY (bigint monoid), the refreshed PCA
    model must match the batch model, and a full redelivery must leave
    state bit-identical (per-batch_id overwrite on a SUM monoid)."""
    import math
    import os

    from sql_data_warehouse_and_analytics_project_spark.operators import pca
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    schema = "vec_id bigint, label int, embedding array<float>"
    batches = [
        [(b * 100 + t, 0, [math.sin(0.1 * (b + 1) * t * (i + 1)) for i in range(pca.DIM)])
         for t in range(15)]
        for b in range(3)
    ]
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
    all_embs = spark.createDataFrame([r for rows in batches for r in rows], schema)

    state = str(tmp_path / "stats")
    stream = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
    q = jobs.sink_stream_embed_stats(stream, state, str(tmp_path / "st_ck1"))
    q.awaitTermination(120)

    want_gram = sorted(map(repr, pca.gram_matrix(all_embs).collect()))
    got_gram = sorted(map(repr, jobs.stream_gram_matrix(spark, state).collect()))
    assert got_gram == want_gram
    want_dims = sorted(map(repr, pca.dim_stats(all_embs).collect()))
    got_dims = sorted(map(repr, jobs.stream_dim_stats(spark, state).collect()))
    assert got_dims == want_dims

    want_comps, want_mean = pca.pca_model(all_embs, k=4)
    got_comps, got_mean = jobs.stream_pca_model(spark, state, k=4)
    assert got_mean == want_mean and got_comps == want_comps

    stream2 = spark.readStream.schema(schema).parquet(f"{input_dir}/*")
    q2 = jobs.sink_stream_embed_stats(stream2, state, str(tmp_path / "st_ck2"))
    q2.awaitTermination(120)
    assert sorted(map(repr, jobs.stream_gram_matrix(spark, state).collect())) == want_gram
    assert sorted(map(repr, jobs.stream_dim_stats(spark, state).collect())) == want_dims


@pytest.mark.slow
def test_stream_asof_attribution_equals_batch(spark, tmp_path):
    """sink_stream_asof_attribution (r15): replaying the events stream in
    file batches emits, for every finalized purchase, exactly the rows of
    the batch as-of twin (latest click at-or-before, horizon null-out) —
    bit-equality, one row per purchase."""
    input_dir = str(tmp_path / "input")
    state = str(tmp_path / "asof_state")
    ckpt = str(tmp_path / "ckpt")

    # split by EVENT TIME (the stream arrives roughly in time order;
    # lateness=0 means an id-parity split would legitimately drop
    # cross-batch late clicks and diverge from the batch twin)
    events = tpch.load(spark, SF_DIR, "events")
    cutoff = events.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")
    ).collect()[0]["c"]
    events.filter(F.unix_micros("ts") <= cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    events.filter(F.unix_micros("ts") > cutoff).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    stream = jobs.read_events_stream(spark, input_dir, max_files_per_trigger=1)
    q = jobs.sink_stream_asof_attribution(
        stream, state, ckpt, horizon_minutes=120, lateness_minutes=0
    )
    q.awaitTermination()

    got = jobs.stream_asof_attributions(spark, state)
    batch = spark.read.schema(jobs.EVENTS_SCHEMA).parquet(input_dir)
    expected = jobs.asof_attribution_batch(batch, horizon_minutes=120)
    assert _rows(got) == _rows(expected)
    n_purch = batch.filter(F.col("event_type") == "purchase").count()
    assert got.count() == n_purch  # lateness=0 -> everything finalized
    assert got.select("event_id").distinct().count() == n_purch


@pytest.mark.slow
def test_stream_asof_late_click_attributed(spark, tmp_path):
    """The late-click scenario an eager per-batch join gets wrong: the
    purchase arrives in batch 1, its matching click only in batch 2 (late
    but within lateness) — the purchase must NOT finalize in batch 1 and
    must attribute to the late click when it does."""
    from datetime import datetime as dt

    input_dir = str(tmp_path / "input")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def ev(eid, minute, user, etype, value=1.5):
        return (eid, dt(2024, 3, 1, 10 + minute // 60, minute % 60), user, etype, value, "{}")

    # batch 1: the purchase at t=30 plus an advancing event at t=40;
    # watermark after batch 1 = 40m - 60m lateness < purchase -> pending
    spark.createDataFrame(
        [ev(10, 30, 7, "purchase"), ev(99, 40, 8, "view")], schema=jobs.EVENTS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(input_dir)
    stream = jobs.read_events_stream(spark, input_dir, max_files_per_trigger=1)
    jobs.sink_stream_asof_attribution(
        stream, state, ckpt, horizon_minutes=60, lateness_minutes=60
    ).awaitTermination()
    assert jobs.stream_asof_attributions(spark, state).count() == 0
    assert jobs.stream_asof_pending(spark, state).count() == 1

    # batch 2: the LATE click (t=20 < purchase t=30, event time in the
    # past) plus an event at t=120 that pushes wm to 60m >= purchase
    # one file: the late click and the wm-advancing event must land in
    # the SAME microbatch (multi-part writes + maxFilesPerTrigger=1 would
    # otherwise split them in arbitrary order)
    spark.createDataFrame(
        [ev(5, 20, 7, "click", 2.25), ev(100, 120, 8, "view")],
        schema=jobs.EVENTS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(input_dir)
    stream2 = jobs.read_events_stream(spark, input_dir, max_files_per_trigger=1)
    jobs.sink_stream_asof_attribution(
        stream2, state, ckpt, horizon_minutes=60, lateness_minutes=60
    ).awaitTermination()

    out = jobs.stream_asof_attributions(spark, state).collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_id"] == 10 and r["user_id"] == 7
    assert r["last_click_ts"] == dt(2024, 3, 1, 10, 20)
    assert r["micros_since_click"] == 10 * 60 * 1_000_000
    assert r["last_click_value"] == 2.25
    assert jobs.stream_asof_pending(spark, state).count() == 0


@pytest.mark.slow
def test_stream_asof_replay_is_noop_and_state_bounded(spark, tmp_path):
    """Re-running the sink over the same checkpoint is a no-op (no new
    output dirs, same rows), and the committed click state never retains
    clicks older than watermark - horizon (bounded state)."""
    import os

    from datetime import datetime as dt

    from sql_data_warehouse_and_analytics_project_spark.warehouse import commit as _commit

    input_dir = str(tmp_path / "input")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def ev(eid, minute, user, etype):
        return (eid, dt(2024, 3, 1, 10 + minute // 60, minute % 60), user, etype, 1.0, "{}")

    rows = [ev(1, 0, 7, "click"), ev(2, 10, 7, "purchase"),
            ev(3, 300, 7, "click"), ev(4, 310, 7, "purchase")]
    spark.createDataFrame(rows, schema=jobs.EVENTS_SCHEMA).write.mode("append").parquet(input_dir)

    def run():
        s = jobs.read_events_stream(spark, input_dir)
        jobs.sink_stream_asof_attribution(
            s, state, ckpt, horizon_minutes=60, lateness_minutes=0
        ).awaitTermination()

    run()
    first = _rows(jobs.stream_asof_attributions(spark, state))
    out_dirs = sorted(os.listdir(f"{state}/out"))
    run()  # same checkpoint, no new files -> no new batch
    assert _rows(jobs.stream_asof_attributions(spark, state)) == first
    assert sorted(d for d in os.listdir(f"{state}/out") if d.startswith("ingest_batch")) == [
        d for d in out_dirs if d.startswith("ingest_batch")
    ]
    assert len(first) == 2  # both purchases finalized (lateness=0)
    # bounded click state: wm = 310m; horizon 60m -> the t=0 click evicted
    clicks = spark.read.parquet(
        os.path.join(_commit.resolve(f"{state}/state"), "clicks")
    ).collect()
    assert [c["ts"] for c in clicks] == [dt(2024, 3, 1, 15, 0)]


@pytest.mark.slow
def test_stream_asof_redelivery_same_batch_converges(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying the SAME microbatch
    (same batch_id — the crash-retry path) must converge: output
    directory identical, committed state semantically identical, and the
    next batch applies cleanly on top. Also simulates a crash BETWEEN
    the out write and the pointer flip: garbage pre-written into the
    batch's out dir is overwritten with the correct rows."""
    import os

    from datetime import datetime as dt

    from sql_data_warehouse_and_analytics_project_spark.streaming.jobs import (
        asof_attribution_apply_batch,
        stream_asof_attributions,
        stream_asof_pending,
    )

    state = str(tmp_path / "state")

    def ev(eid, minute, user, etype, value=1.0):
        return (eid, dt(2024, 3, 1, 10 + minute // 60, minute % 60), user, etype, value, "{}")

    b1 = spark.createDataFrame(
        [ev(1, 0, 7, "click", 3.5), ev(2, 10, 7, "purchase"), ev(3, 200, 8, "view")],
        schema=jobs.EVENTS_SCHEMA,
    )
    # crash simulation: a dead attempt got as far as writing garbage into
    # the out dir but died before the state pointer flip
    spark.createDataFrame(
        [(999, 999, dt(2000, 1, 1), None, None, None)],
        "event_id bigint, user_id bigint, ts timestamp, last_click_ts timestamp,"
        " micros_since_click bigint, last_click_value double",
    ).write.mode("overwrite").parquet(f"{state}/out/ingest_batch=0")

    asof_attribution_apply_batch(b1, 0, state, horizon_minutes=60, lateness_minutes=60)
    first_out = _rows(stream_asof_attributions(spark, state))
    first_pending = _rows(stream_asof_pending(spark, state))
    assert not any(r[0] == 999 for r in first_out)  # garbage replaced

    # redelivery of the SAME batch_id (crash after commit, retry replays)
    asof_attribution_apply_batch(b1, 0, state, horizon_minutes=60, lateness_minutes=60)
    assert _rows(stream_asof_attributions(spark, state)) == first_out
    assert _rows(stream_asof_pending(spark, state)) == first_pending

    # next batch applies on top: wm passes the purchase, click attributes
    b2 = spark.createDataFrame([ev(4, 200, 8, "view")], schema=jobs.EVENTS_SCHEMA)
    asof_attribution_apply_batch(b2, 1, state, horizon_minutes=60, lateness_minutes=60)
    out = {r["event_id"]: r for r in stream_asof_attributions(spark, state).collect()}
    assert set(out) == {2}
    assert out[2]["last_click_value"] == 3.5
    assert stream_asof_pending(spark, state).count() == 0
    batch_dirs = [d for d in os.listdir(f"{state}/out") if d.startswith("ingest_batch")]
    assert sorted(batch_dirs) == ["ingest_batch=0", "ingest_batch=1"]


@pytest.mark.slow
def test_stream_asof_redelivery_after_commit_keeps_prior_pending_rows(
    spark, tmp_path
):
    """ADVICE r15 (high): a crash AFTER the state-pointer flip but BEFORE
    the streaming checkpoint commit redelivers the batch against the NEW
    state, where a purchase finalized from the PRIOR batch's pending set
    is absent from both pending_st and the redelivered batch — the
    idempotent out-dir overwrite would drop its row permanently
    (keep_versions=1 prunes the old state). The committed-meta batch_id
    check must make the redelivered attempt a pure no-op."""
    from datetime import datetime as dt

    from sql_data_warehouse_and_analytics_project_spark.streaming.jobs import (
        asof_attribution_apply_batch,
        stream_asof_attributions,
        stream_asof_pending,
    )

    state = str(tmp_path / "state")

    def ev(eid, minute, user, etype, value=1.0):
        return (eid, dt(2024, 3, 1, 10 + minute // 60, minute % 60), user, etype, value, "{}")

    # batch 0: click + purchase for user 7; lateness=60m keeps the
    # purchase PENDING (wm = 10m - 60m < purchase ts)
    b0 = spark.createDataFrame(
        [ev(1, 0, 7, "click", 2.25), ev(2, 10, 7, "purchase")],
        schema=jobs.EVENTS_SCHEMA,
    )
    asof_attribution_apply_batch(b0, 0, state, horizon_minutes=60, lateness_minutes=60)
    assert stream_asof_attributions(spark, state).count() == 0
    assert stream_asof_pending(spark, state).count() == 1

    # batch 1: unrelated event far ahead; wm passes the pending purchase,
    # attempt 1 finalizes it from STATE (not from the batch) and commits
    b1 = spark.createDataFrame([ev(3, 300, 8, "view")], schema=jobs.EVENTS_SCHEMA)
    asof_attribution_apply_batch(b1, 1, state, horizon_minutes=60, lateness_minutes=60)
    committed = _rows(stream_asof_attributions(spark, state))
    assert len(committed) == 1 and committed[0][0] == 2
    assert stream_asof_pending(spark, state).count() == 0

    # redelivery of batch 1 AFTER full commit (crash between pointer flip
    # and checkpoint commit): must be a no-op — the purchase is in neither
    # the new pending state nor the batch, so recomputing would emit zero
    # rows and the overwrite would erase the finalized attribution
    asof_attribution_apply_batch(b1, 1, state, horizon_minutes=60, lateness_minutes=60)
    after = _rows(stream_asof_attributions(spark, state))
    assert after == committed, "redelivered batch erased finalized attributions"

    # the next batch still applies cleanly on top of the no-op
    b2 = spark.createDataFrame([ev(4, 310, 8, "view")], schema=jobs.EVENTS_SCHEMA)
    asof_attribution_apply_batch(b2, 2, state, horizon_minutes=60, lateness_minutes=60)
    assert _rows(stream_asof_attributions(spark, state)) == committed


@pytest.mark.slow
def test_stream_asof_state_stays_bounded_over_long_replay(spark, tmp_path):
    """VERDICT r15 ask #7: the committed state (clicks + pending) must
    stay O(horizon + lateness window) across a LONG multi-batch run —
    old clicks age out at wm − horizon, finalized purchases leave
    pending at wm — while total ingested events grow linearly. Also
    pins the final output against the batch twin on the finalized
    subset (stream/batch unification under pruning)."""
    import os

    from datetime import datetime as dt, timedelta

    from sql_data_warehouse_and_analytics_project_spark.streaming.jobs import (
        asof_attribution_apply_batch,
        asof_attribution_batch,
        stream_asof_attributions,
        stream_asof_pending,
    )
    from sql_data_warehouse_and_analytics_project_spark.warehouse import commit as _commit

    state = str(tmp_path / "state")
    t0 = dt(2024, 3, 1, 0, 0)
    horizon, lateness = 60, 60  # minutes

    def ev(eid, minute, user, etype, value=1.0):
        return (eid, t0 + timedelta(minutes=minute), user, etype, value, "{}")

    n_batches, span = 12, 100  # each batch spans 100 minutes
    eid, all_events = 0, []
    clicks_per_batch, purchases_per_batch = 4, 3
    for b in range(n_batches):
        base = b * span
        rows = []
        for i in range(clicks_per_batch):
            eid += 1
            rows.append(ev(eid, base + 5 + i * 20, 7 + i % 2, "click", 1.0 + b))
        for i in range(purchases_per_batch):
            eid += 1
            rows.append(ev(eid, base + 15 + i * 25, 7 + i % 2, "purchase"))
        all_events.extend(rows)
        asof_attribution_apply_batch(
            spark.createDataFrame(rows, schema=jobs.EVENTS_SCHEMA),
            b,
            state,
            horizon_minutes=horizon,
            lateness_minutes=lateness,
        )
        vdir = _commit.resolve(f"{state}/state")
        n_clicks = spark.read.parquet(os.path.join(vdir, "clicks")).count()
        n_pending = spark.read.parquet(os.path.join(vdir, "pending")).count()
        # clicks kept iff ts > wm − horizon, i.e. inside the last
        # (horizon + lateness) minutes = at most 2 batch spans' worth;
        # pending kept iff ts > wm, i.e. inside the last `lateness`
        # minutes = at most 1 span's worth — both INDEPENDENT of b
        assert n_clicks <= clicks_per_batch * (-(-(horizon + lateness) // span) + 1), (
            f"batch {b}: clicks state grew to {n_clicks}"
        )
        assert n_pending <= purchases_per_batch * (-(-lateness // span) + 1), (
            f"batch {b}: pending state grew to {n_pending}"
        )

    # unbounded-growth check with slack zero: the LAST batch's state must
    # equal the FIRST steady-state batch's, not scale with n_batches
    assert n_clicks <= 2 * clicks_per_batch
    assert n_pending <= purchases_per_batch

    # stream == batch twin on the finalized subset (purchases at/below wm)
    full = spark.createDataFrame(all_events, schema=jobs.EVENTS_SCHEMA)
    wm = (n_batches - 1) * span + 15 + (purchases_per_batch - 1) * 25  # max ts
    wm_ts = t0 + timedelta(minutes=wm - lateness)
    expected = _rows(
        asof_attribution_batch(full, horizon_minutes=horizon).filter(
            F.col("ts") <= F.lit(wm_ts)
        )
    )
    assert _rows(stream_asof_attributions(spark, state)) == expected


@pytest.mark.slow
def test_stream_msprt_monitor_matches_batch_twin_per_ingest_batch(spark, tmp_path):
    """Sequential mSPRT monitor (r17, VERDICT r16 ask #6): after EVERY
    ingest batch the streaming boundary — merged (hour, arm) partials
    through the SAME msprt_boundary fold — must equal the eval_msprt_ab
    batch twin over exactly the events ingested so far, row for row.
    That per-look equality is the point: the p-value is always-valid, so
    consulting the monitor at every batch is statistically safe. A full
    redelivery (fresh checkpoint, same input) leaves the decision table
    bit-identical."""
    import os

    from datetime import datetime as dt, timedelta

    from sql_data_warehouse_and_analytics_project_spark.operators import msprt
    from sql_data_warehouse_and_analytics_project_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    t0 = dt(2024, 4, 1)
    eid = 0

    def ev(minute, user, etype, value):
        nonlocal eid
        eid += 1
        return (eid, t0 + timedelta(minutes=minute), user, etype, value, "{}")

    # events span 6 hours across 3 batches; hours straddle batch
    # boundaries so the cumulative counts only exist after the merge
    batches = [
        [ev(7 * i, 1 + i % 9, "view", 0.0) for i in range(20)]
        + [ev(9 * i, 1 + i % 5, "purchase", 2.5 + i) for i in range(6)],
        [ev(120 + 7 * i, 3 + i % 9, "click", 1.0) for i in range(15)]
        + [ev(130 + 11 * i, 2 + i % 7, "purchase", 1.25 * (i + 1)) for i in range(5)],
        [ev(260 + 5 * i, 1 + i % 11, "view", 0.0) for i in range(18)]
        + [ev(270 + 13 * i, 5 + i % 6, "purchase", 0.75 * (i + 1)) for i in range(4)],
    ]

    state = str(tmp_path / "msprt_state")
    ck = str(tmp_path / "msprt_ck")
    want = None
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema=jobs.EVENTS_SCHEMA).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
        jobs.sink_stream_msprt_counts(
            jobs.read_events_stream(spark, f"{input_dir}/*"), state, ck
        ).awaitTermination(120)
        prefix = spark.createDataFrame(
            [r for rs in batches[: bi + 1] for r in rs], schema=jobs.EVENTS_SCHEMA
        )
        want = [repr(r) for r in msprt.msprt_boundary(msprt.msprt_counts(prefix)).collect()]
        got = [repr(r) for r in jobs.stream_msprt_monitor(spark, state).collect()]
        assert got == want, f"batch {bi}: monitor != batch twin on the prefix"

        # the CUSUM monitor rides the SAME state (hourly trials summed
        # over arms = hourly event count) — also exact per ingest batch
        from sql_data_warehouse_and_analytics_project_spark.operators import cusum

        want_cu = [repr(r) for r in cusum.cusum_hourly(prefix).collect()]
        got_cu = [repr(r) for r in jobs.stream_cusum_monitor(spark, state).collect()]
        assert got_cu == want_cu, f"batch {bi}: cusum monitor != batch twin"

    # full redelivery: fresh checkpoint, same input, one file per trigger
    # so batch ids land 0,1,2 on the same files — state bit-identical
    jobs.sink_stream_msprt_counts(
        jobs.read_events_stream(spark, f"{input_dir}/*", max_files_per_trigger=1),
        state,
        str(tmp_path / "msprt_ck2"),
    ).awaitTermination(120)
    assert [repr(r) for r in jobs.stream_msprt_monitor(spark, state).collect()] == want


@pytest.mark.slow
def test_stream_asof_fresh_checkpoint_reused_state_is_loud(spark, tmp_path):
    """VERDICT r17 what's-wrong #1 / ADVICE r17 #1: a fresh checkpoint
    lineage (batch ids restart at 0) pointed at an existing as-of state
    dir must NOT be a silent no-op — the skip emits a warning plus an
    append-only marker row under <state_path>/lineage_mismatch recording
    both lineages and both batch ids, while plain same-lineage
    redelivery (batch_id == committed) stays silent and markerless."""
    import os
    import warnings as pywarnings

    from datetime import datetime as dt

    from sql_data_warehouse_and_analytics_project_spark.streaming.jobs import (
        asof_attribution_apply_batch,
        stream_asof_attributions,
    )

    state = str(tmp_path / "state")

    def ev(eid, minute, user, etype, value=1.0):
        return (eid, dt(2024, 3, 1, 10 + minute // 60, minute % 60), user, etype, value, "{}")

    b0 = spark.createDataFrame(
        [ev(1, 0, 7, "click", 3.5), ev(2, 10, 7, "purchase"), ev(3, 200, 8, "view")],
        schema=jobs.EVENTS_SCHEMA,
    )
    b1 = spark.createDataFrame([ev(4, 210, 8, "view")], schema=jobs.EVENTS_SCHEMA)
    asof_attribution_apply_batch(b0, 0, state, lineage_id="L1")
    asof_attribution_apply_batch(b1, 1, state, lineage_id="L1")
    committed = _rows(stream_asof_attributions(spark, state))

    # same-lineage redelivery of the last committed id: silent, no marker
    with pywarnings.catch_warnings():
        pywarnings.simplefilter("error")
        asof_attribution_apply_batch(b1, 1, state, lineage_id="L1")
    assert not os.path.exists(f"{state}/lineage_mismatch")

    # fresh-checkpoint lineage replays from 0 against the reused state:
    # skipped, but LOUD — warning + marker row
    with pytest.warns(UserWarning, match="fresh-checkpoint lineage"):
        asof_attribution_apply_batch(b0, 0, state, lineage_id="L2")
    marks = spark.read.parquet(f"{state}/lineage_mismatch").collect()
    assert [
        (m["skipped_batch_id"], m["committed_batch_id"], m["incoming_lineage"], m["committed_lineage"])
        for m in marks
    ] == [(0, 1, "L2", "L1")]
    # committed output untouched by the skipped batch
    assert _rows(stream_asof_attributions(spark, state)) == committed

    # strict id regression WITHIN a lineage is also marked (ids are
    # monotone in one lineage, so below-committed means lineage trouble
    # even if the id string matches)
    with pytest.warns(UserWarning):
        asof_attribution_apply_batch(b0, 0, state, lineage_id="L1")
    assert spark.read.parquet(f"{state}/lineage_mismatch").count() == 2


def _regroup_case(name):
    """(schema, three file batches, sink, partial tables, [(reader, batch
    twin over every row)]) of one SUM-merge partial sink."""
    import math

    from datetime import datetime as dt, timedelta

    from sql_data_warehouse_and_analytics_project_spark.operators import (
        abstats,
        approx,
        cusum,
        evalmetrics,
        msprt,
        pca,
    )

    docs = (
        "doc_id bigint, lang string, text string",
        [
            [(i, "en" if i % 2 else "de", f"alpha the tok{i} of is x{i % 3}") for i in range(20)],
            [(100 + i, "en" if i % 3 else "fr", f"gamma the word{i} alpha") for i in range(20)],
            # lengths spread over the 64-char histogram bins, so a
            # double-counted batch moves the quantiles
            [(200 + i, "de", f"alpha word{i} fresh{i}" + " pad" * (8 * i)) for i in range(20)],
        ],
    )
    t0 = dt(2024, 4, 1)
    eid = iter(range(1, 1000))

    def ev(minute, user, etype, value):
        return (next(eid), t0 + timedelta(minutes=minute), user, etype, value, "{}")

    # hours and users straddle batch boundaries, so the merged state only
    # exists after the read-time SUM
    events = (
        jobs.EVENTS_SCHEMA,
        [
            [ev(7 * i, 1 + i % 9, "view", 0.0) for i in range(12)]
            + [ev(9 * i, 1 + i % 5, "purchase", 2.5 + i) for i in range(4)],
            [ev(120 + 7 * i, 3 + i % 9, "click", 1.0) for i in range(9)]
            + [ev(130 + 11 * i, 2 + i % 7, "purchase", 1.25 * (i + 1)) for i in range(3)],
            [ev(260 + 5 * i, 1 + i % 11, "view", 0.0) for i in range(10)],
        ],
    )
    embs = (
        "vec_id bigint, label int, embedding array<float>",
        [
            [(b * 100 + t, 0, [math.sin(0.1 * (b + 1) * t * (i + 1)) for i in range(pca.DIM)])
             for t in range(10)]
            for b in range(3)
        ],
    )

    def terms(d):
        return d.select(
            F.explode(
                F.transform(F.split(F.trim("text"), r"\s+"), lambda x: F.lower(x))
            ).alias("term")
        )

    return {
        "cms": (*docs, jobs.sink_stream_cms_sketch, ["cells"],
                [(jobs.stream_cms_cells, lambda d: approx.cms_table(terms(d)))]),
        "hist": (*docs, jobs.sink_stream_hist_sketch, ["bins"],
                 [(jobs.stream_hist_quantiles, lambda d: approx.hist_quantiles(
                     approx.hist_bins(d.select(F.length("text").alias("v")), "v")))]),
        "eval": (*docs, jobs.sink_stream_eval_counts, ["counts"],
                 [(jobs.stream_eval_counts,
                   lambda d: evalmetrics._score_counts(evalmetrics.score_label(d)))]),
        "embed": (*embs, jobs.sink_stream_embed_stats, ["gram", "dims"],
                  [(jobs.stream_gram_matrix, pca.gram_matrix),
                   (jobs.stream_dim_stats, pca.dim_stats)]),
        "ab": (*events, jobs.sink_stream_ab_units, ["units"],
               [(jobs.stream_ab_units, abstats._per_user_metric)]),
        "msprt": (*events, jobs.sink_stream_msprt_counts, ["msprt"],
                  [(jobs.stream_msprt_monitor,
                    lambda d: msprt.msprt_boundary(msprt.msprt_counts(d))),
                   (jobs.stream_cusum_monitor, cusum.cusum_hourly)]),
    }[name]


@pytest.mark.parametrize(
    "sink",
    [
        pytest.param("cms", marks=pytest.mark.slow),
        pytest.param("hist"),
        pytest.param("eval", marks=pytest.mark.slow),
        pytest.param("embed", marks=pytest.mark.slow),
        pytest.param("ab", marks=pytest.mark.slow),
        pytest.param("msprt", marks=pytest.mark.slow),
    ],
)
def test_stream_partial_sink_fresh_checkpoint_different_grouping_converges(
    spark, tmp_path, sink
):
    """ADVICE r17 #2, for every SUM-merge partial sink: per-batch_id
    overwrite is idempotent only for identical batch boundaries. A fresh
    checkpoint that groups the SAME files differently (here: all files in
    one batch 0, vs one file per batch originally) must not double-count
    — the sink detects the lineage change via ``<table>_meta``, clears the
    stale partials, and every reader still equals its batch twin."""
    import os

    schema, batches, sink_fn, tables, readers = _regroup_case(sink)
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{input_dir}/b{bi}.parquet"
        )
    every = spark.createDataFrame([r for rs in batches for r in rs], schema)
    want = [sorted(map(repr, twin(every).collect())) for _, twin in readers]
    state = str(tmp_path / "state")

    def drain(ck, max_files_per_trigger=None):
        stream = spark.readStream.schema(schema)
        if max_files_per_trigger:
            stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
        sink_fn(stream.parquet(f"{input_dir}/*"), state, str(tmp_path / ck)).awaitTermination(120)

    def partial_dirs(table):
        return sorted(d for d in os.listdir(f"{state}/{table}") if d.startswith("batch_id"))

    def got():
        return [sorted(map(repr, reader(spark, state).collect())) for reader, _ in readers]

    # original lineage: one file per trigger -> batch ids 0, 1, 2
    drain("ck1", max_files_per_trigger=1)
    for t in tables:
        assert partial_dirs(t) == ["batch_id=0", "batch_id=1", "batch_id=2"]
    assert got() == want

    # fresh checkpoint, DIFFERENT grouping: all three files in one batch.
    # Without the lineage guard this overwrites only batch_id=0 and the
    # stale batch_id=1,2 partials double-count.
    drain("ck2")
    assert got() == want
    for t in tables:
        assert partial_dirs(t) == ["batch_id=0"]


@pytest.mark.slow
def test_stream_msprt_crash_redelivery_converges_to_batch_twins(spark, tmp_path):
    """VERDICT r17 ask #7: the mSPRT/CUSUM sink's kill-and-resume story,
    driven through the module-level apply (the as-of tests' discipline).
    A crash between the partial write and the meta write (meta stale),
    and a crash before the streaming checkpoint advances (same batch
    redelivered), must both converge: after resume BOTH decision tables
    equal their batch twins over everything ingested."""
    import shutil

    from datetime import datetime as dt, timedelta

    from sql_data_warehouse_and_analytics_project_spark.operators import cusum, msprt
    from sql_data_warehouse_and_analytics_project_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        apply_partials,
        stream_cusum_monitor,
        stream_msprt_monitor,
    )

    t0 = dt(2024, 4, 1)
    eid = 0

    def ev(minute, user, etype, value):
        nonlocal eid
        eid += 1
        return (eid, t0 + timedelta(minutes=minute), user, etype, value, "{}")

    rows0 = [ev(5 * i, 1 + i % 7, "view", 0.0) for i in range(12)] + [
        ev(11 * i, 1 + i % 4, "purchase", 1.5 * (i + 1)) for i in range(4)
    ]
    rows1 = [ev(130 + 7 * i, 2 + i % 6, "click", 1.0) for i in range(8)] + [
        ev(140 + 13 * i, 3 + i % 5, "purchase", 2.25 * (i + 1)) for i in range(3)
    ]
    b0 = spark.createDataFrame(rows0, schema=EVENTS_SCHEMA)
    b1 = spark.createDataFrame(rows1, schema=EVENTS_SCHEMA)
    state = str(tmp_path / "st")

    apply_partials({"msprt": msprt.msprt_counts(b0)}, 0, state, lineage_id="L1")

    # crash window 1: batch 1's partial landed but the process died
    # before the meta write — meta still says batch 0. The streaming
    # checkpoint did not advance either, so batch 1 is redelivered.
    apply_partials({"msprt": msprt.msprt_counts(b1)}, 1, state, lineage_id="L1")
    shutil.rmtree(f"{state}/msprt_meta")
    spark.createDataFrame(
        [("L1", 0)], "lineage_id string, batch_id bigint"
    ).coalesce(1).write.parquet(f"{state}/msprt_meta")
    # resume: redelivery
    apply_partials({"msprt": msprt.msprt_counts(b1)}, 1, state, lineage_id="L1")

    every = spark.createDataFrame(rows0 + rows1, schema=EVENTS_SCHEMA)
    want = [repr(r) for r in msprt.msprt_boundary(msprt.msprt_counts(every)).collect()]
    want_cu = [repr(r) for r in cusum.cusum_hourly(every).collect()]
    assert [repr(r) for r in stream_msprt_monitor(spark, state).collect()] == want
    assert [repr(r) for r in stream_cusum_monitor(spark, state).collect()] == want_cu

    # crash window 2: plain redelivery of the last committed batch
    # (crash after meta write, before checkpoint commit) — idempotent
    apply_partials({"msprt": msprt.msprt_counts(b1)}, 1, state, lineage_id="L1")
    assert [repr(r) for r in stream_msprt_monitor(spark, state).collect()] == want
    assert [repr(r) for r in stream_cusum_monitor(spark, state).collect()] == want_cu

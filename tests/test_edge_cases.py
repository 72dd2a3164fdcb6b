"""Degenerate-input robustness: empty and uniform corpora through the
near-dup pipelines. An empty delta load and a mass-duplicate crawl batch are
both routine at 100 TB — neither may throw or mis-pair."""

from __future__ import annotations

import pathlib
import random
import shutil
from itertools import combinations

import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR, assert_query_matches_oracle, duck_over
from sql_data_warehouse_and_analytics_project_spark.materialize import released
from sql_data_warehouse_and_analytics_project_spark.operators import dedup

_SCHEMA = "doc_id long, lang string, text string"


def test_dedup_pipelines_handle_empty_corpus(spark):
    empty = spark.createDataFrame([], _SCHEMA)
    with released():
        assert dedup.minhash_lsh_pairs(empty).count() == 0
        assert dedup.simhash_pairs(empty).count() == 0
        assert dedup.ngram_jaccard_candidates(empty).count() == 0


def test_dedup_pipelines_handle_uniform_corpus(spark):
    """10 byte-identical docs: the exact-dup collapse reduces LSH to ONE
    representative (no band bucket ever sees the mass), and the member
    expansion must still emit every C(10,2) pair at Jaccard exactly 1.0."""
    uniform = spark.createDataFrame(
        [(i, "en", "alpha beta gamma delta epsilon zeta") for i in range(10)], _SCHEMA
    )
    with released():
        rows = dedup.minhash_lsh_pairs(uniform).collect()
        assert len(rows) == 45
        assert all(r["jaccard"] == 1.0 for r in rows)
        assert all(r["doc_id_1"] < r["doc_id_2"] for r in rows)

        sim = dedup.simhash_pairs(uniform).collect()
        assert len(sim) == 45
        assert all(r["hamming"] == 0 for r in sim)


@pytest.mark.parametrize(
    "name, emptied",
    [
        ("graph_pagerank_trade", ("orders", "lineitem")),
        ("mix_waterfill_chars", ("documents",)),
    ],
)
def test_empty_sources_match_the_oracle(spark, tmp_path, name, emptied):
    """A query over source tables emptied with their schema kept returns
    what its DuckDB oracle returns: no rows. Pagerank divided by a zero
    node count and waterfill ran int() on a NULL budget before."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for src in pathlib.Path(SF_DIR).iterdir():  # the source files are read-only
        shutil.copyfile(src, sf_dir / src.name)
    for table in emptied:
        path = sf_dir / f"{table}.parquet"
        pq.write_table(pq.read_schema(path).empty_table(), path)
    duck = duck_over(str(sf_dir))
    try:
        assert_query_matches_oracle(spark, duck, name, sf_dir=str(sf_dir))
    finally:
        duck.close()


def test_ivf_training_handles_empty_embeddings(spark, tmp_path):
    """An empty embeddings delta must not crash k-means training OR the
    composed index build/search path (r4 review fixes: the seed sampler
    indexed pts[0] before its degenerate guard; build_ivf_index couldn't
    type an empty centroid literal; a zero-row partitioned write left
    nothing ivf_search could infer a schema from)."""
    from sql_data_warehouse_and_analytics_project_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert sim.train_ivf_centroids(empty, n_lists=8, iters=2) == []
    path = str(tmp_path / "ivf")
    assert sim.build_ivf_index(empty, path, n_lists=8, iters=2) == []
    assert sim.ivf_search(spark, path, [0.0] * 64, k=5, n_probes=3).count() == 0


def _hamming_reference(rows, n_bands, band_bits, hamming_max, cap):
    """Pure-Python band → cap → confirm → expand over (media_id, hash) rows:
    exact-dup collapse to the min media_id per hash, the ``cap`` smallest
    reps per (band, bucket), bit_count(XOR) confirm, then every member pair
    of every confirmed rep pair plus every intra-group pair at Hamming 0."""
    rep = {}
    for mid, h in rows:
        rep[h] = min(rep.get(h, mid), mid)
    buckets = {}
    for h, r in rep.items():
        for band in range(n_bands):
            key = (band, (h >> (band * band_bits)) & ((1 << band_bits) - 1))
            buckets.setdefault(key, []).append((r, h))
    confirmed = set()
    for kept in buckets.values():
        for (r1, h1), (r2, h2) in combinations(sorted(kept)[:cap], 2):
            d = bin(h1 ^ h2).count("1")
            if d <= hamming_max:
                confirmed.add((r1, r2, d))
    group = {}
    for mid, h in rows:
        group.setdefault(rep[h], []).append(mid)
    out = [(min(m1, m2), max(m1, m2), d) for r1, r2, d in confirmed
           for m1 in group[r1] for m2 in group[r2]]
    out += [(m1, m2, 0) for ms in group.values() for m1, m2 in combinations(sorted(ms), 2)]
    return sorted(out)


@pytest.mark.parametrize("caller", ["phash", "afp"])
def test_hamming_pipelines_degenerate_inputs(spark, caller):
    """The banded Hamming skeleton through each perceptual-hash caller:
    an empty signature frame yields no pairs; a frame where every item
    shares one hash collapses to ONE rep and expands to exactly C(n,2)
    Hamming-0 member pairs; and a band bucket holding more distinct hashes
    than the cap agrees with the pure-Python band → cap → confirm → expand
    reference — the cap trims recall exactly where the reference says."""
    from sql_data_warehouse_and_analytics_project_spark.operators import multimodal as mm

    pairs_fn, n_bands, band_bits, hamming_max = {
        "phash": (mm.phash_pairs, mm._PHASH_N_BANDS, mm._PHASH_BAND_BITS, mm._PHASH_HAMMING_MAX),
        "afp": (mm.afp_pairs, mm._AFP_N_BANDS, mm._AFP_BAND_BITS, mm._AFP_HAMMING_MAX),
    }[caller]
    schema = f"media_id bigint, {caller} bigint"

    def run(rows):
        out = pairs_fn(spark.createDataFrame(rows, schema)).collect()
        return [(r.media_id_1, r.media_id_2, r.hamming) for r in out]

    assert run([]) == []
    assert sorted(run([(i, 12345) for i in range(10)])) == [
        (i, j, 0) for i in range(10) for j in range(i + 1, 10)
    ]

    # 90 distinct hashes differ from one base only in bands 1 and 2, so
    # every other band holds them all in ONE over-cap bucket and pairs
    # straddle the confirm bound (up to 2*band_bits bits apart); 20 unrelated
    # hashes, and 1..3 members per hash under shuffled media ids
    rng = random.Random(7)
    width = n_bands * band_bits
    base = rng.getrandbits(width)
    hashes = [base ^ (v << band_bits) for v in rng.sample(range(1 << (2 * band_bits)), 90)]
    hashes += [rng.getrandbits(width) for _ in range(20)]
    rows = [(h, n) for h in hashes for n in range(rng.randint(1, 3))]
    ids = rng.sample(range(10_000), len(rows))
    rows = [(mid, h) for mid, (h, _) in zip(ids, rows)]

    want = _hamming_reference(rows, n_bands, band_bits, hamming_max, dedup._LSH_BUCKET_CAP)
    assert want != _hamming_reference(rows, n_bands, band_bits, hamming_max, len(rows))
    assert sorted(run(rows)) == want


def test_r11_operators_handle_degenerate_inputs(spark):
    """CDC, PMI, and the sequence builder on empty/single-token inputs:
    no crash, sane empties."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import (
        cooccur as co,
        dedup as dd,
        seqexamples as se,
    )

    # single-token and whitespace-only docs: one chunk each, no pairs
    docs = spark.createDataFrame(
        [(0, "solo"), (1, "  "), (2, "two tokens")], "doc_id bigint, text string"
    )
    chunks = dd.cdc_chunks(docs).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    assert by_doc[0] == ["solo"]
    assert by_doc[2] == ["two tokens"]  # below window size -> one chunk
    stats = {r["doc_id"]: r for r in dd.cdc_dup_stats(docs).collect()}
    assert stats[0]["n_chunks"] == 1 and stats[0]["n_dup"] == 0

    # PMI: no pair reaches min_pair -> empty frame, no crash
    assert co.pmi_pairs(docs, min_pair=5).collect() == []

    # sequence builder: a user with exactly ctx events yields nothing;
    # ctx+1 events yield exactly one example
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i), 1, f"e{i}") for i in range(4)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string",
    )
    got3 = se.next_event_examples(ev.filter(F.col("event_id") < 3)).collect()
    assert got3 == []
    got4 = se.next_event_examples(ev).collect()
    assert [tuple(r) for r in got4] == [(1, 3, "e0 e1 e2", "e3")]


def test_bootstrap_ci_degenerate_all_zero_replicas_match_duckdb(spark):
    """ADVICE r11: on a 1-row corpus ~e^-1 of the 200 Poisson replicas draw
    weight 0; the replica mean 0/0 must be dropped IDENTICALLY by both
    engines (Spark Divide -> NULL, DuckDB unguarded -> NaN, which
    quantile_cont would propagate into a NaN CI). With the NULLIF guard
    both sides skip the degenerate replicas and agree exactly."""
    import duckdb

    from sql_data_warehouse_and_analytics_project_spark.operators import bootstrap as bs

    docs = spark.createDataFrame([(7, 42)], "doc_id long, n_chars long")
    got = bs.bootstrap_mean_ci(docs, value_col="n_chars", id_col="doc_id").first()
    assert got["n_rows"] == 1 and got["b_replicas"] == bs._B
    # every surviving replica of a 1-row corpus has mean exactly 42
    assert (got["mean_est"], got["ci_lo"], got["ci_hi"]) == (42.0, 42.0, 42.0)

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT 7 AS doc_id, 42 AS n_chars")
        want = con.execute(bs._BOOT_SQL).fetchone()
    finally:
        con.close()
    assert [got[c] for c in ("n_rows", "b_replicas", "mean_est", "ci_lo", "ci_hi")] == list(want)
    assert all(v == v for v in want)  # no NaN leaked through the oracle


def test_profile_stats_dyadic_tie_matches_duckdb(spark):
    """ADVICE r11: printf('%.6f') rounds decimal ties HALF_UP in Java but
    half-to-even in C, so an exact dyadic bound (0.0078125 = 2^-7) used
    to be a latent hash mismatch for future 'num' specs. The DOUBLE ->
    DECIMAL(18,6) -> string chain rounds half-away-from-zero in BOTH
    engines; the planted tie must produce the identical bound string."""
    import duckdb

    from sql_data_warehouse_and_analytics_project_spark.operators import profile_stats as ps

    spec = {"v": "num"}
    rows = [(0.0078125,), (0.0234375,), (-0.0078125,), (42.0,)]
    df = spark.createDataFrame(rows, "v double")
    got = [tuple(r) for r in ps.profile_columns(df, spec).collect()]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW t AS SELECT * FROM (VALUES (0.0078125::DOUBLE),"
            " (0.0234375::DOUBLE), (-0.0078125::DOUBLE), (42.0::DOUBLE)) AS v(v)"
        )
        want = con.execute(ps._profile_sql("t", spec)).fetchall()
    finally:
        con.close()
    assert got == want
    assert got[0][4] == "-0.007813" and got[0][5] == "42.000000"


def test_r12_operators_tolerate_degenerate_inputs(spark):
    """r12 degenerate-input sweep (ANSI-safe): empty corpora, sub-minimum
    docs, single-label embeddings, and the Zipf fit's zero-variance
    regimes must return empty/NULL results instead of raising — probed
    under ANSI mode semantics (the driver's vanilla session has ANSI on,
    where an unguarded 0/0 double division throws)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.operators import (
        approx,
        composition,
        dedup,
        drift,
        retrieval,
        winnow,
    )

    prev_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        empty = spark.createDataFrame([], "doc_id bigint, lang string, text string")
        short = spark.createDataFrame(
            [(1, "en", "one two")], "doc_id bigint, lang string, text string"
        )
        assert winnow.winnow_pairs(empty).count() == 0
        assert winnow.winnow_pairs(short).count() == 0
        assert winnow.winnow_verified(short).count() == 0
        assert approx.cms_table(empty.select(F.col("text").alias("term"))).count() == 0
        assert (
            approx.hist_quantiles(
                approx.hist_bins(empty.select(F.length("text").alias("v")), "v")
            ).count()
            == 0
        )
        assert retrieval.tfidf_keywords(empty).count() == 0
        assert composition.weighted_priority_sample(empty).count() == 0
        assert dedup.cross_lang_dup_pairs(empty).count() == 0

        # zipf: empty, single-term, and uniform (vary = 0) corpora
        r = drift.zipf_fit(empty).first()
        assert r["n_terms"] == 0 and r["slope"] is None and r["r2"] is None
        one = spark.createDataFrame(
            [(1, "en", "aaa aaa aaa")], "doc_id bigint, lang string, text string"
        )
        r = drift.zipf_fit(one).first()
        assert r["n_terms"] == 1 and r["slope"] is None
        uni = spark.createDataFrame(
            [(1, "en", "a b c d")], "doc_id bigint, lang string, text string"
        )
        r = drift.zipf_fit(uni).first()
        assert r["slope"] == 0.0 and r["r2"] is None  # vary = 0: no fit quality

        # single-label centroid table: no pairs, no error
        single = spark.createDataFrame(
            [(1, [1.0, 0.0], 0)], "vec_id bigint, embedding array<float>, label int"
        )
        assert drift.centroid_cosine(single).count() == 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)

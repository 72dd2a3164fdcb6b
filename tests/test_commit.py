"""Crash-safety of the manifest-pointer table commit (warehouse/commit.py).

The invariant under test: a reader always sees a COMPLETE old or new table
state, never neither and never a torn mix — the plain-parquet analog of the
reference's BEGIN TRAN/COMMIT per table load (ref: proc_load_silver.sql:57)
— and recovery (the next successful publish) leaves no stranded dirs.
Crashes are injected by monkeypatching the protocol's internal steps, which
kills the publish at the exact boundary of interest.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from sql_data_warehouse_and_analytics_project_spark.warehouse import Catalog, commit


def _rows(cat, name):
    return sorted(r["id"] for r in cat.read(name).collect())


def _root_entries(cat, name):
    return sorted(os.listdir(cat.path(name)))


class Boom(RuntimeError):
    pass


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"))


def test_commit_crash_in_write_keeps_old_state(spark, tmp_path, monkeypatch):
    """Kill mid-write (new version dir half-written): pointer — and every
    reader — stays on the complete old state; recovery sweeps the orphan."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 10))
    assert _rows(cat, "gold.t") == list(range(10))

    real_write = spark.range(0, 1).write.__class__.parquet

    def dying_parquet(writer, path, **kw):
        # let Spark create part of the dir, then die before completion
        real_write(writer, path, **kw)
        raise Boom("executor lost mid-write")

    monkeypatch.setattr(type(spark.range(0, 1).write), "parquet", dying_parquet)
    with pytest.raises(Boom):
        cat.overwrite("gold.t", _df(spark, 100, 120))
    monkeypatch.undo()

    assert _rows(cat, "gold.t") == list(range(10))  # old state intact
    cat.overwrite("gold.t", _df(spark, 200, 205))  # recovery publish
    assert _rows(cat, "gold.t") == list(range(200, 205))
    entries = _root_entries(cat, "gold.t")
    assert entries == [commit.POINTER, commit.current_version(cat.path("gold.t"))]


def test_commit_crash_before_flip_keeps_old_state(spark, tmp_path, monkeypatch):
    """Kill between the complete version write and the pointer flip: the
    new dir exists in full but was never committed — readers see old."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 10))

    def no_flip(target, version):
        raise Boom("killed at the commit point")

    monkeypatch.setattr(commit, "_flip_pointer", no_flip)
    with pytest.raises(Boom):
        cat.overwrite("gold.t", _df(spark, 100, 120))
    monkeypatch.undo()

    assert _rows(cat, "gold.t") == list(range(10))
    cat.overwrite("gold.t", _df(spark, 300, 303))
    assert _rows(cat, "gold.t") == [300, 301, 302]
    entries = _root_entries(cat, "gold.t")
    assert entries == [commit.POINTER, commit.current_version(cat.path("gold.t"))]


def test_commit_crash_after_flip_sees_new_state(spark, tmp_path, monkeypatch):
    """Kill after the pointer flip but before GC: the commit HAPPENED —
    readers see the new state; the superseded dir is swept on the next
    publish."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 10))

    def no_gc(target, keep, keep_versions=0):
        raise Boom("killed after commit point")

    monkeypatch.setattr(commit, "_gc", no_gc)
    with pytest.raises(Boom):
        cat.overwrite("gold.t", _df(spark, 100, 105))
    monkeypatch.undo()

    assert _rows(cat, "gold.t") == list(range(100, 105))  # new state visible
    # stale v1 dir still present until recovery...
    assert len([d for d in _root_entries(cat, "gold.t") if d.startswith("v")]) == 2
    cat.overwrite("gold.t", _df(spark, 400, 402))
    entries = _root_entries(cat, "gold.t")
    assert entries == [commit.POINTER, commit.current_version(cat.path("gold.t"))]


def test_commit_migrates_legacy_root_layout(spark, tmp_path):
    """A table first written files-at-root (append) is readable, and the
    first overwrite migrates it to the pointer layout, GC-ing the legacy
    root files; properties sidecar survives the migration."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.append("silver.t", _df(spark, 0, 5))
    cat.set_properties("silver.t", {"owner": "etl"})
    assert commit.current_version(cat.path("silver.t")) is None
    assert _rows(cat, "silver.t") == list(range(5))

    cat.overwrite("silver.t", _df(spark, 10, 13))
    assert commit.current_version(cat.path("silver.t")) is not None
    assert _rows(cat, "silver.t") == [10, 11, 12]
    assert cat.properties("silver.t") == {"owner": "etl"}
    root = cat.path("silver.t")
    assert not any(f.endswith(".parquet") for f in os.listdir(root))


def test_commit_sweeps_legacy_tmp_old_siblings(spark, tmp_path):
    """Stranded ``.tmp-*``/``.old-*`` sibling dirs from the pre-manifest
    rename protocol are swept by the next publish."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 3))
    parent = os.path.dirname(cat.path("gold.t"))
    os.makedirs(os.path.join(parent, "t.tmp-deadbeef"))
    os.makedirs(os.path.join(parent, "t.old-deadbeef"))
    cat.overwrite("gold.t", _df(spark, 5, 8))
    assert sorted(os.listdir(parent)) == ["t"]


def test_rollup_refresh_crash_keeps_old_state(spark, tmp_path, monkeypatch):
    """Incremental rollup: a refresh killed at the commit point leaves the
    stored state readable and BIT-IDENTICAL to before; re-running the
    refresh completes and matches the full recompute."""
    from conftest import SF_DIR

    from sql_data_warehouse_and_analytics_project_spark.sources import tpch
    from sql_data_warehouse_and_analytics_project_spark.warehouse import incremental

    li = tpch.load(spark, SF_DIR, "lineitem")
    keys, measure = ["l_returnflag", "l_linestatus"], "l_quantity"
    path = str(tmp_path / "rollup")
    part = F.col("l_orderkey") % 2

    incremental.build_rollup(li.filter(part == 0), keys, measure, path)
    before = [tuple(r) for r in incremental.read_rollup(spark, path, li, keys, measure).collect()]

    def no_flip(target, version):
        raise Boom("killed at the commit point")

    monkeypatch.setattr(commit, "_flip_pointer", no_flip)
    with pytest.raises(Boom):
        incremental.refresh_rollup(spark, path, li.filter(part == 1), keys, measure)
    monkeypatch.undo()

    after_crash = [
        tuple(r) for r in incremental.read_rollup(spark, path, li, keys, measure).collect()
    ]
    assert after_crash == before  # reader unaffected by the dead refresh

    incremental.refresh_rollup(spark, path, li.filter(part == 1), keys, measure)
    p_full = str(tmp_path / "full")
    incremental.build_rollup(li, keys, measure, p_full)
    got = [tuple(r) for r in incremental.read_rollup(spark, path, li, keys, measure).collect()]
    want = [tuple(r) for r in incremental.read_rollup(spark, p_full, li, keys, measure).collect()]
    assert got == want
    assert sorted(os.listdir(path)) == [
        commit.POINTER,
        commit.current_version(path),
    ]


@pytest.mark.slow
def test_pipeline_kill_mid_gold_finalizes_failed_no_torn_state(spark, tmp_path, monkeypatch):
    """Batch-finalize semantics (ref: init_load_all.sql:78-107): a pipeline
    killed INSIDE the gold fact commit must (a) finalize the reserved MASTER
    log row as Failed with the error message, and (b) leave gold.fact_sales
    on the complete prior state — the half-written new version is never
    visible to readers (the per-table BEGIN TRAN/COMMIT analog)."""
    import datetime as dt

    from sql_data_warehouse_and_analytics_project_spark.warehouse import run_pipeline
    from sql_data_warehouse_and_analytics_project_spark.warehouse.fixtures import write_fixture

    csv = write_fixture(str(tmp_path / "csv"), delta=False, n_customers=8, n_products=6, n_sales=30)
    root = str(tmp_path / "wh")
    as_of1 = dt.datetime(2024, 4, 20, 12, 0, 0)
    ctx1 = run_pipeline(spark, root, csv, as_of1)
    cat = ctx1.catalog
    before = {
        t: sorted(map(str, cat.read(t).collect()))
        for t in ("gold.dim_customers", "gold.dim_products", "gold.fact_sales")
    }

    orig_flip = commit._flip_pointer

    def flip_or_die(target, version):
        if target.endswith("fact_sales"):
            raise Boom("killed mid gold fact commit")
        return orig_flip(target, version)

    monkeypatch.setattr(commit, "_flip_pointer", flip_or_die)
    with pytest.raises(Boom):
        run_pipeline(spark, root, csv, dt.datetime(2024, 5, 20, 12, 0, 0))
    monkeypatch.undo()

    # (a) the failed batch's MASTER row is finalized Failed, error recorded
    log = cat.read("audit.etl_log").filter(F.col("table_name") == "MASTER_PIPELINE")
    batch2 = log.agg(F.max("batch_id")).first()[0]
    statuses = {
        r["status"]: r["error_message"]
        for r in log.filter(F.col("batch_id") == batch2).collect()
    }
    assert "Failed" in statuses
    assert "killed mid gold fact commit" in statuses["Failed"]
    assert statuses.get("Success") is None or "Success" not in statuses

    # (b) fact table: complete old state, no torn/partial files visible
    assert sorted(map(str, cat.read("gold.fact_sales").collect())) == before["gold.fact_sales"]

    # recovery run commits cleanly and sweeps the orphaned version dir
    run_pipeline(spark, root, csv, dt.datetime(2024, 6, 20, 12, 0, 0))
    froot = cat.path("gold.fact_sales")
    vdirs = [d for d in os.listdir(froot) if d.startswith("v")]
    assert vdirs == [commit.current_version(froot)]
    assert sorted(map(str, cat.read("gold.fact_sales").collect())) == before["gold.fact_sales"]


def test_commit_history_retention_and_time_travel(spark, tmp_path):
    """With ``history=2`` the catalog retains the two newest superseded
    versions: read_version time-travels to each retained state, older
    versions are trimmed, and a trimmed/never-committed version raises.
    Crash debris (a version NEWER than the pointer) is still swept and is
    never readable as history."""
    cat = Catalog(spark, str(tmp_path / "wh"), history=2)
    for gen in range(4):  # v1..v4, each 3 rows starting at gen*100
        cat.overwrite("gold.t", _df(spark, gen * 100, gen * 100 + 3))

    vs = cat.versions("gold.t")
    assert vs == ["v00000002", "v00000003", "v00000004"]  # v1 trimmed
    assert _rows(cat, "gold.t") == [300, 301, 302]
    assert sorted(r["id"] for r in cat.read_version("gold.t", "v00000002").collect()) == [100, 101, 102]
    assert sorted(r["id"] for r in cat.read_version("gold.t", "v00000003").collect()) == [200, 201, 202]
    with pytest.raises(FileNotFoundError):
        cat.read_version("gold.t", "v00000001")  # trimmed
    with pytest.raises(FileNotFoundError):
        cat.read_version("gold.t", "v00000099")  # never committed

    # crash debris is NOT history: kill a publish at the commit point, then
    # confirm the dead version is swept by the next publish and unreadable
    import pytest as _p

    def no_flip(target, version):
        raise Boom("killed at the commit point")

    orig = commit._flip_pointer
    commit._flip_pointer = no_flip
    try:
        with _p.raises(Boom):
            cat.overwrite("gold.t", _df(spark, 900, 903))
    finally:
        commit._flip_pointer = orig
    cat.overwrite("gold.t", _df(spark, 500, 503))
    vs = cat.versions("gold.t")
    assert len(vs) == 3 and _rows(cat, "gold.t") == [500, 501, 502]
    assert sorted(r["id"] for r in cat.read_version("gold.t", vs[0]).collect()) != [900, 901, 902]


def test_commit_single_writer_lock(spark, tmp_path):
    """A publish against a table whose lock is held by a LIVE process
    raises ConcurrentWriteError (no version-counter race); a lock left by
    a dead writer is broken automatically and the publish proceeds."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 3))
    root = cat.path("gold.t")

    # live holder: our own pid
    lock = os.path.join(root, commit.LOCK)
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(commit.ConcurrentWriteError):
        cat.overwrite("gold.t", _df(spark, 10, 13))
    assert _rows(cat, "gold.t") == [0, 1, 2]  # blocked writer changed nothing
    os.remove(lock)

    # stale holder: a pid that cannot be alive
    with open(lock, "w") as f:
        f.write("999999999")
    cat.overwrite("gold.t", _df(spark, 20, 23))  # breaks the stale lock
    assert _rows(cat, "gold.t") == [20, 21, 22]
    assert not os.path.exists(lock)


def test_commit_history_retention_depth_three(spark, tmp_path):
    """Regression (r9 review): keep_versions >= 3 must retain exactly that
    many historical versions at steady state — the old slice arithmetic
    went negative and silently kept only one."""
    cat = Catalog(spark, str(tmp_path / "wh"), history=3)
    for gen in range(6):  # v1..v6
        cat.overwrite("gold.t", _df(spark, gen * 10, gen * 10 + 2))
    vs = cat.versions("gold.t")
    assert vs == ["v00000003", "v00000004", "v00000005", "v00000006"], vs
    for i, v in enumerate(vs):
        got = sorted(r["id"] for r in cat.read_version("gold.t", v).collect())
        assert got == [(i + 2) * 10, (i + 2) * 10 + 1]


def test_commit_empty_lock_is_stale(spark, tmp_path):
    """Regression (r9 review): a 0-byte _LOCK (writer died between O_EXCL
    create and pid write) must be broken as stale, not parsed as pid 0 —
    kill(0, 0) signals our own process group and always 'succeeds', which
    would wedge the table forever."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 3))
    lock = os.path.join(cat.path("gold.t"), commit.LOCK)
    open(lock, "w").close()  # empty lock file
    cat.overwrite("gold.t", _df(spark, 10, 13))  # must break the stale lock
    assert _rows(cat, "gold.t") == [10, 11, 12]
    assert not os.path.exists(lock)


def test_commit_retry_succeeds_after_lock_release(spark, tmp_path):
    """publish retry/backoff (r11, VERDICT r9 ask #6): a second writer that
    collides with a live lock must retry with backoff and SUCCEED once the
    first writer releases — and the backoff hook is injectable, so the
    test releases the lock from inside it (no sleeps, no threads)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 3))
    root = cat.path("gold.t")

    lock = os.path.join(root, commit.LOCK)
    with open(lock, "w") as f:
        f.write(str(os.getpid()))  # a LIVE competing writer

    released_at = []

    def release_on_second(attempt):
        released_at.append(attempt)
        if attempt == 1:  # first writer finishes between attempts 2 and 3
            os.remove(lock)

    def write_fn(vdir):
        _df(spark, 10, 13).write.mode("overwrite").parquet(vdir)

    commit.publish(root, write_fn, attempts=3, backoff=release_on_second)
    assert _rows(cat, "gold.t") == [10, 11, 12]
    assert released_at == [0, 1]  # two collisions, then success
    assert not os.path.exists(lock)


def test_commit_retry_exhaustion_raises(spark, tmp_path):
    """A lock held by a live writer for the WHOLE retry budget still
    raises ConcurrentWriteError — bounded retry, not a spin — after
    exactly attempts-1 backoff calls, leaving the table untouched."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite("gold.t", _df(spark, 0, 3))
    root = cat.path("gold.t")
    with open(os.path.join(root, commit.LOCK), "w") as f:
        f.write(str(os.getpid()))

    calls = []
    with pytest.raises(commit.ConcurrentWriteError):
        commit.publish(
            root,
            lambda vdir: _df(spark, 10, 13).write.parquet(vdir),
            attempts=3,
            backoff=calls.append,
        )
    assert calls == [0, 1]
    assert _rows(cat, "gold.t") == [0, 1, 2]


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    """Maintenance compaction (r12): a fragmented committed table (32
    files) compacts to the byte-derived target through the pointer
    protocol — same rows, fewer files, old version retained when
    keep_versions=1 (snapshot isolation for in-flight scans) — and a
    second run is a no-op (no new version)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.warehouse import (
        commit,
        maintenance,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(10_000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    commit.publish(
        target, lambda v: df.repartition(32).write.mode("overwrite").parquet(v)
    )
    before_version = commit.current_version(target)

    res = maintenance.compact_table(
        spark, target, target_file_bytes=1 << 30, keep_versions=1
    )
    assert res["compacted"] and res["files_before"] == 32
    assert res["files_after"] == res["n_files_target"] == 1
    got = spark.read.parquet(commit.resolve(target))
    assert got.count() == 10_000
    assert got.agg(F.sum("id")).first()[0] == sum(range(10_000))
    # superseded version retained for in-flight readers
    assert before_version in commit.list_versions(target)

    res2 = maintenance.compact_table(spark, target, target_file_bytes=1 << 30)
    assert not res2["compacted"]


def test_table_version_diff_reads_time_travel(spark, tmp_path):
    """Version CDF (r12): publishing v2 with one changed, one removed and
    one added row, the diff between retained versions reports exactly
    those keys — the Delta change-data-feed analog over the pointer
    protocol's retained history."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.warehouse import (
        commit,
        maintenance,
    )

    target = str(tmp_path / "tbl")
    v1_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, payload string"
    )
    commit.publish(target, lambda v: v1_df.write.mode("overwrite").parquet(v))
    v1 = commit.current_version(target)
    v2_df = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id bigint, payload string"
    )
    commit.publish(
        target, lambda v: v2_df.write.mode("overwrite").parquet(v), keep_versions=1
    )
    v2 = commit.current_version(target)

    got = {
        r["id"]: r["status"]
        for r in maintenance.table_version_diff(
            spark, target, v1, v2, "id", ["payload"]
        ).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}, got

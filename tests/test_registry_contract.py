"""Registry window contract.

The driver caps its CORRECTNESS file at 50 entries taken in
``all_queries()`` order, with oracle-backed non-deferred queries sorted
first. These asserts make a window rotation that goes off-by-one (r10
promoted 9 keys but deferred only 8, silently ejecting
``warehouse_incremental_rollup`` by registration-order luck) a hard test
failure instead of a silent driver-window corruption.
"""

from sql_data_warehouse_and_analytics_project_spark.registry import all_queries

DRIVER_WINDOW = 50


def test_exactly_50_non_deferred_oracle_backed():
    qs = all_queries()
    non_deferred = [k for k, v in qs.items() if v.oracle is not None and not v.defer]
    assert len(non_deferred) == DRIVER_WINDOW, (
        f"driver window must hold exactly {DRIVER_WINDOW} non-deferred "
        f"oracle-backed queries, got {len(non_deferred)}: a rotation must "
        f"defer one key for every key it promotes. Window: {non_deferred}"
    )


def test_window_is_a_prefix_of_registration_order():
    """The 50 driver-checked keys must be the FIRST 50 of all_queries() —
    i.e. every non-deferred oracle-backed query sorts before every deferred
    or rows-only query, so the driver's cap cuts exactly at the intended
    boundary."""
    qs = all_queries()
    ordered = list(qs.values())
    head, tail = ordered[:DRIVER_WINDOW], ordered[DRIVER_WINDOW:]
    assert all(q.oracle is not None and not q.defer for q in head)
    assert all(q.oracle is None or q.defer for q in tail)


def test_deferred_queries_keep_their_oracle():
    """defer=True parks a query outside the driver window but it must stay
    cross-engine-verified by tests/test_oracle_parity.py — a deferred query
    without an oracle would silently lose all value checking."""
    qs = all_queries()
    for k, v in qs.items():
        if v.defer:
            assert v.oracle is not None, f"{k} is deferred but has no oracle"


ROWS_ONLY_BY_DESIGN = {
    "q01_database_exploration",
    "olap_approx_summary",
    "text_bpe_tokenize",
    "multimodal_decode_real",
    "dedup_video_frames",
    "embed_pca_project",
    "ann_opq_topk",
    "retrieval_mmr_rerank",
    "eval_isotonic_calibration",
}


def test_coverage_md_header_counts_match_registry():
    """COVERAGE.md's header sentence states the registry totals; VERDICT
    r15 nit #1 caught them stale (178/169/119 vs the real 189/180/130)
    because only the rows-only count was machine-pinned. Parse the header
    and assert all three counts against the live registry — a new
    registration now forces the doc update in the same commit."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("COVERAGE.md").read_text()
    m = re.search(
        r"registry holds (\d+) queries, (\d+) of them\s*\noracle-backed — exactly "
        r"(\d+) non-deferred.*?\+ (\d+) deferred",
        text,
        re.DOTALL,
    )
    assert m, "COVERAGE.md header counts sentence not found / format changed"
    doc_total, doc_oracle, doc_window, doc_deferred = map(int, m.groups())
    qs = all_queries()
    oracle_backed = [k for k, v in qs.items() if v.oracle is not None]
    deferred = [k for k, v in qs.items() if v.oracle is not None and v.defer]
    assert doc_total == len(qs), f"COVERAGE.md says {doc_total} queries, registry has {len(qs)}"
    assert doc_oracle == len(oracle_backed), (
        f"COVERAGE.md says {doc_oracle} oracle-backed, registry has {len(oracle_backed)}"
    )
    assert doc_window == DRIVER_WINDOW
    assert doc_deferred == len(deferred), (
        f"COVERAGE.md says {doc_deferred} deferred, registry has {len(deferred)}"
    )


def test_rows_only_set_is_exactly_the_documented_nine():
    """Every oracle-less query must be on the documented rows-only-by-design
    list (COVERAGE.md; VERDICT r14 nit #3 caught the doc count drifting from
    the registry — this pins the exact set so neither can drift silently).
    A new rows-only registration must be added HERE and in COVERAGE.md with
    its pytest proof named."""
    qs = all_queries()
    rows_only = {k for k, v in qs.items() if v.oracle is None}
    assert rows_only == ROWS_ONLY_BY_DESIGN, (
        f"rows-only registry drift: extra={sorted(rows_only - ROWS_ONLY_BY_DESIGN)}, "
        f"missing={sorted(ROWS_ONLY_BY_DESIGN - rows_only)}"
    )


def test_cache_lifetimes_go_through_materialize():
    """One cache-lifetime primitive: ``.cache()``, ``.persist(`` and
    ``.unpersist(`` appear only in ``materialize.py`` (and the jsonl
    source's own batch lifecycle), and no list of caches is threaded
    through the package as a parameter. Comment lines are exempt from the
    call check."""
    import pathlib
    import re

    import sql_data_warehouse_and_analytics_project_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    allowed = {"materialize.py", "sources/jsonl.py"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        text = path.read_text()
        if re.search(r"_cache[s]", text):
            offenders.append(f"{rel}: cache-list parameter")
        if rel in allowed:
            continue
        for n, line in enumerate(text.splitlines(), 1):
            if line.lstrip().startswith("#"):
                continue
            if any(t in line for t in (".cache()", ".persist(", ".unpersist(")):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, offenders


def test_lineage_cuts_go_through_materialize():
    """One lineage-cut primitive: ``.localCheckpoint(`` appears only in
    ``materialize.py``, whose ``checkpoint`` names every cut's job.
    Comment lines are exempt."""
    import pathlib

    import sql_data_warehouse_and_analytics_project_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root).as_posix()}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "materialize.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line and not line.lstrip().startswith("#")
    ]
    assert not offenders, offenders


def test_row_observations_go_through_counted():
    """One way to count rows inside a job that already runs:
    ``Observation(`` and ``.observe(`` appear only in ``materialize.py``,
    whose ``counted`` attaches the observation. Comment lines are exempt."""
    import pathlib

    import sql_data_warehouse_and_analytics_project_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root).as_posix()}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "materialize.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ("Observation(" in line or ".observe(" in line) and not line.lstrip().startswith("#")
    ]
    assert not offenders, offenders


def test_driver_rows_go_through_local_frame():
    """One way for driver-side rows to enter a plan: ``createDataFrame(``
    appears only in ``sources/local.py``, whose ``local_frame`` builds a
    JVM ``LocalRelation`` instead of a Python-RDD scan. Comment lines are
    exempt."""
    import pathlib

    import sql_data_warehouse_and_analytics_project_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root).as_posix()}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "sources/local.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line and not line.lstrip().startswith("#")
    ]
    assert not offenders, offenders

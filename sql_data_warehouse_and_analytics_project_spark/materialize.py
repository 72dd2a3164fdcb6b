"""Query-lifetime caches, lineage cuts and row counts: pipelines cache
with :func:`cached`, and the query that runs them owns the release through
one :func:`released` scope; every lineage cut goes through
:func:`checkpoint`, which names its job; a row count of a frame that is
about to be cut or written comes from :func:`counted`, observed by that
job instead of a second one. The scope lives in a ContextVar, so the
streaming sink's ``foreachBatch`` thread gets its own."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import TypeVar

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

T = TypeVar("T")

_scope: ContextVar[list[DataFrame] | None] = ContextVar("release_scope", default=None)


@contextmanager
def released() -> Iterator[None]:
    """Unpersist (non-blocking) every frame :func:`cached` registers inside
    this block when it exits, normally or by exception; a nested scope
    releases only its own frames."""
    frames: list[DataFrame] = []
    token = _scope.set(frames)
    try:
        yield
    finally:
        _scope.reset(token)
        for df in frames:
            df.unpersist()


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()``, released with the innermost open scope; outside any
    scope the frame stays cached for the session."""
    df = df.cache()
    frames = _scope.get()
    if frames is not None:
        frames.append(df)
    return df


def checkpoint(df: DataFrame, name: str) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with its job described as
    ``name``, a fixed ``"<pipeline>:<step>"`` string, so every lineage cut
    is attributable to a pipeline step. The thread's previous job
    description is restored afterwards and its job group is left alone.

    Why an eager checkpoint and not ``.cache()``: a cache orders nothing —
    the consumer stages of one job launch concurrently and each computes a
    still-unmaterialized cache on its own, re-running the upstream (Python
    decode, tokenize and hash passes included) once per branch. The eager
    job runs the upstream exactly once, materializing any upstream cache
    first, and every consumer reads the blocks. A cut is also the only
    safe way to consume a frame whose plan reads a path the next
    statement writes: Spark invalidates and recomputes a cached plan when
    its source path is written, a checkpoint keeps the pre-write rows."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def counted(
    df: DataFrame, run: Callable[[DataFrame], T], where: Column | None = None
) -> tuple[T, int]:
    """``(run(observed), rows)``: ``run`` gets ``df`` with a fresh
    ``Observation`` attached and must run exactly one action on it, a
    :func:`checkpoint` or a parquet write; ``rows`` is ``df``'s row count,
    or the count of rows where ``where`` holds, collected by that action's
    own job instead of a second ``count()`` job over the same frame. The
    observation also fills when Spark folds the frame empty and runs no
    job at all."""
    obs = Observation()
    n = F.count(F.lit(1)) if where is None else F.count_if(where)
    out = run(df.observe(obs, n.alias("n")))
    return out, obs.get["n"]


def missing_rows(df: DataFrame, path: str, key: str) -> DataFrame | None:
    """The rows of ``df`` whose ``key`` the parquet table at ``path`` does
    not hold yet, for a caller that appends them there: ``df`` itself while
    the table does not exist, otherwise the anti-join against the stored
    keys, cut by :func:`checkpoint` because its plan reads the path the
    append writes, and counted by the cut. ``None`` when no row is
    missing."""
    from .warehouse.hdfs import exists

    spark = df.sparkSession
    if not exists(spark, path):
        return None if df.isEmpty() else df
    stored = spark.read.parquet(path).select(key).distinct()
    table = path.rstrip("/").rsplit("/", 1)[-1]
    missing, n = counted(
        df.join(stored, key, "left_anti"), lambda d: checkpoint(d, f"missing_rows:{table}")
    )
    return missing if n else None


def materialized(
    build: Callable[[], DataFrame], name: str, order: list[str] | None = None
) -> DataFrame:
    """Registry-call cache discipline: run the pipeline ``build`` returns
    NOW — an eager :func:`checkpoint` of the small result frame, its job
    named after the registry key ``name`` — then free every cache it
    registered, so no cached frame outlives the query call. The
    checkpoint holds only the result rows (near-dup pair sets, tiny by
    LSH/cap construction) and its blocks are released by Spark's
    ContextCleaner once the returned frame is dropped. Total work is
    unchanged: the harness was about to materialize the frame anyway.

    ``order`` re-applies the presentation sort AFTER the checkpoint: the
    checkpointed frame should be the pipeline's UNSORTED output, because
    eagerly executing a global orderBy pays a range-sampling job over the
    pipeline plus the sort itself — cost that an aggregate-only consumer
    (bench's count()) never pays on the lazy path, where Catalyst elides
    the sort. Sorting the checkpointed rows is trivial at result size."""
    with released():
        out = checkpoint(build(), f"{name}:result")
    return out.orderBy(*order) if order else out

"""Central query registry.

Every implemented operator/query registers here with an optional DuckDB
oracle; ``__spark_entry__.py`` exposes the registry to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # include in bench.py
    defer: bool = False  # sort after the driver's 50-entry window (see all_queries)


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    defer: bool = False,
):
    """Decorator: register fn(spark, sf_dir) -> DataFrame under ``name``.

    ``defer=True`` keeps an oracle-backed query OUT of the driver's capped
    correctness window (it sorts after every non-deferred oracle-backed
    query) so the long-stable 50 hash-checked keys keep their slots;
    deferred queries still carry their oracle and are cross-engine-verified
    by tests/test_oracle_parity.py."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(
            name=name, fn=fn, oracle=oracle, headline=headline, defer=defer
        )
        return fn

    return deco


def all_queries() -> dict[str, RegisteredQuery]:
    # import side-effect modules that register queries
    from . import analytics  # noqa: F401
    from .operators import (  # noqa: F401
        abstats,
        abtest,
        analytics_extras,
        approx,
        attribution,
        bootstrap,
        bpe,
        composition,
        cooccur,
        corpusstats,
        curation,
        cusum,
        datacard,
        dedup,
        degstats,
        drift,
        dsir,
        er,
        etl_queries,
        evalmetrics,
        hashembed,
        kcore,
        kmeans,
        lr,
        msprt,
        multimodal,
        nb,
        olap_extras,
        packing,
        opq,
        pagerank,
        pca,
        pq,
        profile_stats,
        quant,
        ranking_eval,
        retrieval,
        rp,
        sampling_json,
        security_queries,
        seqexamples,
        similarity,
        skyline,
        skew,
        survival,
        temporal,
        text,
        triangles,
        waterfill,
        winnow,
    )
    from .streaming import batch_views  # noqa: F401
    from .warehouse import incremental  # noqa: F401

    # Ordering contract (the driver caps its correctness file at 50 entries
    # in registration order): non-deferred oracle-backed queries first —
    # exactly 50 keys, machine-checked by tests/test_registry_contract.py
    # (a rotation MUST defer one key per key it promotes). Deferred queries
    # keep their oracle and stay cross-engine-verified in
    # tests/test_oracle_parity.py. After the deferred group come the
    # rows-only-by-design entries, pytest-verified. Sort is stable, so
    # in-module registration order is preserved within each group. See
    # COVERAGE.md.
    return dict(
        sorted(_REGISTRY.items(), key=lambda kv: (kv[1].oracle is None, kv[1].defer))
    )

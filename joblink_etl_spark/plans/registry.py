"""Central query registry: name → QuerySpec (builder, oracle SQL and
the audit facts declared for the query).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this. Every operator implemented from SURVEY.md §2 registers here so
the driver's DuckDB-oracle correctness gate covers it. The audit
tools, the tests and bench.py read each query's facts from its
``register(...)`` line in catalog.py instead of keeping lists of
query names of their own.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The shapes a builder that runs bounded Spark jobs at plan
# CONSTRUCTION may take. All are bounded (iteration counts / aggregate
# sizes fixed by construction, never O(corpus) result pulls to the
# driver); tests/test_plans.py asserts that the set of queries whose
# build runs jobs equals the set declaring ``construction=``.
CONSTRUCTION_SHAPES = {
    "iterative": "iterative fixed-point algorithm — each iteration pins its "
    "frontier (localCheckpoint, eager under AQE) and/or checks convergence "
    "with a bounded count(); a single lazy plan cannot express "
    "data-dependent iteration",
    "trained": "trained-model build — Lloyd/BPE/doubling iterations whose "
    "per-round state (centroids / merge table / probe lengths) is pinned "
    "between rounds: the _pq_train tradeoff (plan analysis no longer "
    "re-walks the HOF assign tree per iteration)",
    "barrier": "shared-subtree barrier pin with a measured win (PERF.md): "
    "bm25's tf relation (4 consumers), winnowing fingerprints, scrub "
    "cut-lists, and the composite pipelines built on them",
    "two_phase": "two-phase build — a small aggregate (quantile grid, vocab, "
    "mixture weights, batch spec, row count) is computed up front because "
    "the second phase's SHAPE depends on its values",
}


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None
    # key of CONSTRUCTION_SHAPES when the builder runs Spark jobs
    construction: str | None = None
    # why a construction-time query's state is size-bounded
    # independent of corpus scale (broadcast_audit 'bound' disposition)
    state_bound: str | None = None
    # why a generate-class broadcast in the plan is bounded by
    # production contract rather than by plan shape (broadcast_audit)
    broadcast_bound: str | None = None
    # why an unpartitioned window is bounded by construction (plan_audit)
    global_window: str | None = None
    # documented quadratic baseline / bounded-corpus verification query,
    # kept only as a recall yardstick and guarded by row caps: its
    # Cartesian / nested-loop joins are by design (plan_audit)
    quadratic: bool = False
    # left out of bench.py's headline set, loudly (its "excluded" field)
    bench_excluded: bool = False
    # tools/scale_probe.py family this query represents
    family: str | None = None


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, fn: QueryFn, oracle: str | None, **facts) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    spec = QuerySpec(fn, oracle, **facts)
    if spec.construction not in (None, *CONSTRUCTION_SHAPES):
        raise ValueError(f"{name}: unknown construction shape {spec.construction!r}")
    if spec.state_bound and not spec.construction:
        raise ValueError(f"{name}: state_bound without construction")
    _REGISTRY[name] = spec


def specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {k: v.fn for k, v in _REGISTRY.items()}


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return {k: v.oracle for k, v in _REGISTRY.items() if v.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import catalog  # noqa: F401  (registers everything on import)

    _LOADED = True

"""Query registry: the single source of truth behind ``__spark_entry__``.

Each operator module registers its queries at import time via the
:func:`query` decorator.  A registered query is a callable
``(spark, sf_dir) -> DataFrame`` plus, when the semantics are
SQL-expressible, a DuckDB oracle SQL string the driver runs
side-by-side (row-count + schema + order-insensitive value-hash).

Conventions that keep the differential check meaningful:

- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded (``round(x, N)``) on BOTH sides so
  summation-order ULP differences between engines can't flip the hash;
- ordered results (sorts, top-k) materialize their position into a
  ``rn`` column, because the driver's hash is order-insensitive.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None -> rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

#: Driver-evidence rotation.  The driver writes at most 50 CORRECTNESS
#: entries per round, taken in registry order; queries listed here are
#: emitted FIRST (in this order) so each round's window covers the
#: queries with the least driver-anchored evidence.  The list literal
#: below is MACHINE-MAINTAINED: ``tools/close_round.py`` recomputes
#: the still-unevidenced backlog from every committed
#: CORRECTNESS_r*.json and rewrites it (oracle-backed names first —
#: hash evidence outranks rows-only slots), so run it whenever new
#: queries register or a round closes.  ``tools/verify_round.py``
#: fails loudly if any name at the head is already green or any
#: unevidenced oracle-backed name is missing.
_DRIVER_PRIORITY: list[str] = []

#: Driver-evidence RE-CHECK list (r15 verdict ask #6): names that
#: already carry green driver evidence but whose INTERNALS a round
#: rewrote — fronted right after the unevidenced backlog so the driver
#: re-hashes them against the new code.  ``verify_round``'s rotation
#: gate exempts these (deliberate re-verification, not wasted slots);
#: ``close_round`` drops every name the newest CORRECTNESS artifact
#: re-proved.
_DRIVER_RECHECK: list[str] = [
    # r16: internals rewritten this round — re-hash against the new code
    "dedup_cluster_cc",
    "graph_triangle_count",
    "orders_basket_lift",
    "emb_matryoshka_recall",
    "cluster_kmeans_assign",
    "dedup_semantic",
    "graph_pagerank",
    "dq_functional_dependencies",
    # r15 verdict ask #6: shared gram kernel changed in r15 while this
    # name sat outside the window, plus the r15 window-rotated greens
    "dedup_near_incremental",
    "emb_mmr_rerank",
    "events_lttb_downsample",
    "events_matrix_profile",
    "events_max_drawdown",
    "orders_croston_demand",
    "stat_dft_power",
    "stat_mann_kendall",
]

#: Names appended here by round-5 modules land right after the backlog
#: in the driver window.  Kept as a mutation hook so operator modules
#: can self-register their priority at import time.


def driver_priority_append(name: str) -> None:
    """Add ``name`` to the driver-evidence window (idempotent)."""
    if name not in _DRIVER_PRIORITY:
        _DRIVER_PRIORITY.append(name)


def _ordered(names: dict[str, Query]) -> dict[str, Query]:
    """Registry order = unevidenced backlog first, then the re-check
    list, then registration order."""
    out: dict[str, Query] = {}
    for n in (*_DRIVER_PRIORITY, *_DRIVER_RECHECK):
        if n in names:
            out[n] = names[n]
    for n, q in names.items():
        if n not in out:
            out[n] = q
    return out


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering ``fn`` under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator module (triggering registration) and return
    the full registry."""
    # Imports are side-effecting by design: each module registers its
    # queries at import time.
    from .operators import (  # noqa: F401
        analytics,
        bucketed,
        cdc,
        clustering,
        dataquality,
        dedup,
        formats,
        graph,
        multimodal,
        packing,
        pipeline,
        relational,
        sampling,
        scalar_fns,
        similarity,
        sketches,
        skew,
        text,
        timeseries,
        tpch,
        traces,
        udfs,
        windows,
    )

    return _ordered(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}

"""Registry mapping query keys → (PySpark callable, optional DuckDB oracle).

Every operator from SURVEY.md §2/§7 that we claim as implemented gets one
entry here; the driver runs the Spark callable and the oracle SQL
side-by-side at sf0.01 and hash-compares results (order-insensitive,
column-name-sorted — hence the "alias everything identically" rule).

Queries whose semantics DuckDB can't express (approximate LSH joins,
stateful streaming) register with ``oracle=None`` → rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
# key → defining module ("zip_to_parquet_spark.plans.llm") — the root of
# the key's implementing-code closure for the window-policy test.
_MODULES: dict[str, str] = {}


def query(
    name: str, oracle: Optional[str | Callable[[], str]] = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with an optional oracle SQL
    (a literal string, or a zero-arg callable resolved lazily by
    :func:`all_oracle_sql` for oracles that must be computed)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query key: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver hands us a session whose Python workers don't have
            # this package on their path; ship it (idempotent) so pickled
            # data sources / pandas UDFs can be unpickled worker-side.
            from zip_to_parquet_spark.runtime import ensure_shipped

            ensure_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _QUERIES[name] = wrapped
        _MODULES[name] = fn.__module__
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


_PRIORITY: list[str] = []


def set_priority(keys: list[str]) -> None:
    """Pin the iteration order of :func:`all_queries` / :func:`all_oracle_sql`.

    The driver's correctness sweep covers the first 50 registry keys in
    iteration order; round 1 showed registration order silently starved the
    reference-parity (``zip_*``), streaming, temporal, and LLM-tail queries of
    any oracle row. The priority list puts those first. Keys not listed keep
    their registration order after the prioritized block. A key that is not
    registered raises ``ValueError``: a pin naming a deleted key would
    silently shrink the driver window by one slot. Call it after every
    query module has registered.
    """
    global _PRIORITY
    unknown = [k for k in keys if k not in _QUERIES]
    if unknown:
        raise ValueError(f"set_priority: unregistered query keys {unknown}")
    _PRIORITY = list(keys)


def _ordered(d: dict) -> dict:
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update((k, v) for k, v in d.items() if k not in out)
    return out


def all_queries() -> dict[str, QueryFn]:
    return _ordered(_QUERIES)


def key_modules() -> dict[str, str]:
    """key → dotted module that defines it (window-policy test input)."""
    return dict(_MODULES)


def all_oracle_sql() -> dict[str, str]:
    """Oracle SQL per key. A registered oracle may be a callable returning
    SQL — resolved here, at driver call time, for oracles that must be
    *computed* rather than written (e.g. ``ann_ivf_trained`` inlines its
    deterministically-trained centroids as literals). A callable that
    raises degrades that key to the rows-only check instead of failing the
    whole sweep."""
    out = {}
    for k, v in _ordered(_ORACLES).items():
        if callable(v):
            try:
                out[k] = v()
            except Exception:  # noqa: BLE001 — degrade to rows-only
                continue
        else:
            out[k] = v
    return out

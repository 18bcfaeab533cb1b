"""Family query modules of the registry (split r13): importing
magiceye_spark.registry pulls these in for their @register side
effects — do not import them directly for queries; use
registry.queries()/oracles().

The registration table and its decorator live here, in the package
every family module belongs to, and not in :mod:`magiceye_spark.registry`:
the registry imports the family modules, so a family module that
imported the registry back would form an import cycle, and importing
that module first would fail on a partially initialised sibling.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, Optional[str]]] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco

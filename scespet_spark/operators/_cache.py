"""Shared per-family registry for operator-persisted DataFrames.

Operators that persist intermediates across multiple actions (shingle
sets, Lloyd's training points) register them under a family
name; long-lived callers release a family once its downstream results
are materialized.  One registry — not one copy-pasted list per module —
so adding an operator family never adds a new cache-management API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_REGISTRY: dict[str, list[DataFrame]] = {}


def persist(df: DataFrame, family: str) -> DataFrame:
    """Persist ``df`` and register it under ``family``; returns the
    persisted DataFrame."""
    df = df.persist()
    _REGISTRY.setdefault(family, []).append(df)
    return df


def release(family: str) -> int:
    """Unpersist everything registered under ``family``; returns how
    many tables were released."""
    n = 0
    for df in _REGISTRY.pop(family, []):
        df.unpersist()
        n += 1
    return n

"""Derivation / aggregation operators for the worker plugins.

Maps the reference's transform plugins (``load_composites`` and
``aggregate``, ``trollflow2/plugins/__init__.py:102-130``) to Column
algebra. Composites (derived bands) are registered named expressions,
so "delay_composites" (compute after resample, on fewer pixels —
``plugins/__init__.py:116``) is just where in the chain you apply them;
under lazy Catalyst evaluation common subexpressions are shared the way
dask dedups graph nodes.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F


# ---------------------------------------------------------------------------
# Composites: named derived-band expressions (≙ the satpy composite registry
# consumed at plugins/__init__.py:120, re-expressed as Column algebra).
COMPOSITE_REGISTRY: dict[str, Callable[..., Column]] = {}


def register_composite(name: str):
    def deco(fn):
        COMPOSITE_REGISTRY[name] = fn
        return fn

    return deco


def block_aggregate(
    df: DataFrame,
    block_cols: Mapping[str, int],
    value_cols: Sequence[str],
    agg: str = "avg",
) -> DataFrame:
    """Block-aggregate by integer factors, e.g. ``{'y': 2, 'x': 2}`` means
    2x2 pixel blocks -> one output row per block.

    Parity: ``aggregate`` (``plugins/__init__.py:124-130``). Implemented
    as a hash aggregation on ``floor(col / factor)`` keys — map-side
    partial aggregation makes this shuffle only one pre-combined row per
    block per task at scale.

    Determinism: averages are computed as exact decimal sums divided by
    counts (float sum order varies across partitionings; decimal sums are
    associative, so results are bit-identical across cluster sizes).
    """
    keys = [
        F.floor(F.col(c) / F.lit(int(f))).cast("long").alias(f"{c}_block")
        for c, f in block_cols.items()
    ]
    if agg == "avg":
        aggs = [
            (
                F.sum(F.col(v).cast("decimal(38,6)")).cast("double")
                / F.count(F.col(v))
            ).alias(f"{v}_avg")
            for v in value_cols
        ]
    elif agg == "sum":
        aggs = [
            F.sum(F.col(v).cast("decimal(38,6)")).cast("double").alias(f"{v}_sum")
            for v in value_cols
        ]
    else:
        aggs = [getattr(F, agg)(F.col(v)).alias(f"{v}_{agg}") for v in value_cols]
    return df.groupBy(*keys).agg(*aggs, F.count(F.lit(1)).alias("n_rows"))

"""Projection / derivation / aggregation operators.

Maps the reference's transform plugins (``load_composites``,
``aggregate``, decoration/filename templating —
``/root/reference/trollflow2/plugins/__init__.py:102-274``) to Column
algebra. Composites (derived bands) are registered named expressions, so
"delay_composites" (compute after resample, on fewer pixels —
``plugins/__init__.py:116``) is just where in the chain you apply them;
under lazy Catalyst evaluation common subexpressions are shared the way
dask dedups graph nodes.
"""

from __future__ import annotations

import re
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


def load_composites(
    df: DataFrame, composites: Mapping[str, Column]
) -> DataFrame:
    """Derive the requested composite columns; the select of only-needed
    source channels is left to Catalyst column pruning."""
    out = df
    for name, expr in composites.items():
        out = out.withColumn(name, expr)
    return out


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


# ---------------------------------------------------------------------------
# Filename / topic / decoration templating (trollsift `compose` analog,
# plugins/__init__.py:207-220,258-274). A pattern like
#   "{platform_name}_{start_time:%Y%m%d_%H%M}_{areaname}.{format}"
# becomes a concat of column refs and date_format calls — pure JVM-side
# string functions, usable for partitioned output paths.

_FIELD_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]+))?\}")

_STRFTIME_TO_SPARK = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
    "%y": "yy",
}


def strftime_to_spark(fmt: str) -> str:
    out = fmt
    for k, v in _STRFTIME_TO_SPARK.items():
        out = out.replace(k, v)
    return out


def compose_pattern(pattern: str, types: Mapping[str, str] | None = None) -> Column:
    """Build a Column that renders ``pattern`` from row columns.

    ``types`` maps field name -> Spark dtype string; fields typed
    ``timestamp*`` use their strftime spec via ``date_format``.
    """
    types = types or {}
    parts: list[Column] = []
    pos = 0
    for m in _FIELD_RE.finditer(pattern):
        if m.start() > pos:
            parts.append(F.lit(pattern[pos : m.start()]))
        field, spec = m.group(1), m.group(2)
        if spec and "%" in spec:
            parts.append(F.date_format(F.col(field), strftime_to_spark(spec)))
        else:
            parts.append(F.col(field).cast("string"))
        pos = m.end()
    if pos < len(pattern):
        parts.append(F.lit(pattern[pos:]))
    return F.concat(*parts) if parts else F.lit("")


def compose_filename(
    df: DataFrame,
    pattern: str,
    out_col: str = "filename",
    types: Mapping[str, str] | None = None,
) -> DataFrame:
    return df.withColumn(out_col, compose_pattern(pattern, types))

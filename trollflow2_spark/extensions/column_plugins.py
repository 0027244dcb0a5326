"""Column twins of the engine's worker plugins, for the query library.

The engine runs its gates and filename templating over plain work-item
dicts (``plans/pipeline.py``, ``sinks/save.py``). The contract queries
express the same reference semantics as Column algebra so the oracle can
check them relationally:

- the pruning gates (``plugins/__init__.py:582-1079``) as ``df.filter``
  predicates — dropped groups simply vanish;
- trollsift filename/topic templating (``plugins/__init__.py:207-220,
  258-274``) as a concat of column refs and ``date_format`` calls.

Scale notes: all predicates are pure Column expressions (JVM-side,
codegen'd, pushdown-eligible); the data-dependent check
(``valid_fraction``) is a map-side-combinable aggregate joined back
broadcast, so nothing here introduces a wide shuffle beyond the one
aggregation it needs.
"""

from __future__ import annotations

import re
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def check_metadata_categorical(
    df: DataFrame, column: str, allowed: Sequence[str], keep_missing: bool = True
) -> DataFrame:
    """Keep rows whose ``column`` is in ``allowed``.

    Missing metadata (NULL) passes with a warning in the reference
    (``plugins/__init__.py:702-714``) — ``keep_missing=True`` mirrors
    that null-tolerance.
    """
    pred = F.col(column).isin(list(allowed))
    if keep_missing:
        pred = F.col(column).isNull() | pred
    return df.filter(pred)


def check_metadata_age(
    df: DataFrame,
    ts_column: str,
    max_age_minutes: float | None = None,
    min_age_minutes: float | None = None,
    now: Column | None = None,
) -> DataFrame:
    """Age gate: drop rows whose ``ts_column`` is older than
    ``max_age_minutes`` (positive threshold in the reference) or younger
    than ``min_age_minutes`` (negative threshold) relative to ``now``.

    Parity: ``plugins/__init__.py:705-711`` (``start_time: -60`` means
    "skip data older than 60 minutes"). ``now`` defaults to
    ``current_timestamp()``; tests/oracles pass a fixed literal for
    determinism. In streaming this is the watermark analog.

    Implemented as interval comparisons (not epoch arithmetic) so it
    works identically on TIMESTAMP and TIMESTAMP_NTZ columns.
    """
    now = now if now is not None else F.current_timestamp()
    pred = F.lit(True)
    if max_age_minutes is not None:
        oldest = now - F.make_dt_interval(mins=F.lit(float(max_age_minutes)))
        pred = pred & (F.col(ts_column) >= oldest)
    if min_age_minutes is not None:
        youngest = now - F.make_dt_interval(mins=F.lit(float(min_age_minutes)))
        pred = pred & (F.col(ts_column) <= youngest)
    # NULL timestamp = missing metadata: warn-and-pass semantics.
    return df.filter(F.col(ts_column).isNull() | pred)


def metadata_alias(
    df: DataFrame, column: str, aliases: Mapping[str, str]
) -> DataFrame:
    """Rewrite metadata values through an alias map; unmapped values pass
    through unchanged; list-valued columns are aliased element-wise.

    Parity: ``plugins/__init__.py:717-736``. Implemented as a MapType
    literal + coalesce (broadcast-join-free; the alias map is config).
    """
    pairs = []
    for k, v in aliases.items():
        pairs += [F.lit(k), F.lit(v)]
    amap = F.create_map(*pairs)
    dtype = dict(df.dtypes)[column]
    if dtype.startswith("array"):
        aliased = F.transform(F.col(column), lambda x: F.coalesce(amap[x], x))
    else:
        aliased = F.coalesce(amap[F.col(column)], F.col(column))
    return df.withColumn(column, aliased)


def covers_filter(
    df: DataFrame,
    coverage_col: str = "area_coverage_percent",
    min_coverage_col: str = "min_coverage",
) -> DataFrame:
    """Drop work items whose scene/area coverage is below their (per-area,
    nullable) ``min_coverage``; NULL min means keep everything.

    Parity: ``plugins/__init__.py:582-684`` — the geometric coverage
    itself comes from :mod:`trollflow2_spark.functions.geometry`; this
    stage is the relational filter applied afterwards.
    """
    return df.filter(
        F.col(coverage_col) >= F.coalesce(F.col(min_coverage_col), F.lit(0.0))
    )


def sza_check(
    df: DataFrame,
    sza_col: str = "sza",
    min_col: str = "sunzen_minimum_angle",
    max_col: str = "sunzen_maximum_angle",
) -> DataFrame:
    """Two-sided, null-tolerant sun-zenith-angle filter: a NULL bound is
    "no bound"; day products set a max angle, night products a min angle.

    Parity: ``plugins/__init__.py:739-783``. Emptied areas vanish
    automatically (no explicit subtree deletion needed in a DataFrame).
    """
    min_ok = F.col(min_col).isNull() | (F.col(sza_col) >= F.col(min_col))
    max_ok = F.col(max_col).isNull() | (F.col(sza_col) <= F.col(max_col))
    return df.filter(min_ok & max_ok)


def valid_fraction_filter(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    min_valid_fraction: float,
    expected_coverage_pct: float = 100.0,
) -> DataFrame:
    """Data-dependent pruning: compute the NaN/NULL-aware valid fraction
    per group, normalize by expected coverage, and keep only rows of
    groups at or above ``min_valid_fraction`` (0-1).

    Parity: ``check_valid_data_fraction``
    (``plugins/__init__.py:955-1079``): ``rel_valid = (notnull/size) /
    expected_coverage`` with a sanity band ``0 <= rel_valid < 1.05``.
    The reference forces eager dask persists to avoid recompute
    (``:1014-1032``); Spark's analog is that the aggregate is computed
    once and broadcast-joined back (the input should be persisted by the
    caller if it feeds multiple consumers).

    Shuffle analysis: one partial-aggregating groupBy over ``group_cols``
    + a broadcast semi-join back — no second data shuffle.
    """
    c = F.col(value_col)
    valid = F.count(F.when(c.isNotNull() & ~F.isnan(c), F.lit(1)))
    total = F.count(F.lit(1))
    rel = (valid / total) / F.lit(expected_coverage_pct / 100.0)
    fractions = (
        df.groupBy(*group_cols)
        .agg(rel.alias("rel_valid"))
        .filter(
            (F.col("rel_valid") >= F.lit(float(min_valid_fraction)))
            & (F.col("rel_valid") >= F.lit(0.0))
            & (F.col("rel_valid") < F.lit(1.05))
        )
        .select(*group_cols)
    )
    return df.join(F.broadcast(fractions), list(group_cols), "left_semi")


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

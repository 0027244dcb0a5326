"""Event-time windowed aggregation for streams.

The reference processes each message independently — no event-time
windows, no cross-message state (SURVEY §2.10). Structured Streaming
gives both for free, and a training-data intake pipeline needs them
(per-source rates, late-data handling), so the query library exposes
them as first-class stages:

- ``windowed_counts``: tumbling/sliding event-time windows with a
  watermark bounding state (late rows beyond the watermark are dropped —
  the principled version of the reference's ``start_time`` age gate).
- ``sessionized_counts``: native session windows (gap-based), the
  streaming twin of the batch ``sessionize`` query.

Scale notes: state lives in the executor state store partitioned by
group key; the watermark is what keeps it bounded — without it a 100 TB
stream accumulates state forever. Output mode "update"/"append" chooses
latency vs completeness; both work on these plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    key_cols: list[str],
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) windowed counts per key
    with a watermark for late data."""
    wm = stream.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"{value_col}_sum"))
    return (
        wm.groupBy(win.alias("win"), *key_cols)
        .agg(*aggs)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *key_cols,
            "n_events",
            *([f"{value_col}_sum"] if value_col is not None else []),
        )
    )


def sessionized_counts(
    stream: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Session windows: a session closes after ``gap`` of silence per
    key (the streaming-native version of the batch lag/running-sum
    sessionization)."""
    wm = stream.withWatermark(ts_col, watermark)
    return (
        wm.groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *key_cols,
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "30 minutes",
    max_delay: str = "15 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time-range bound —
    the attribution shape (impression joined to the click that follows
    it within ``max_delay``).

    Both inputs buffer in the state store until a match can be ruled
    out; the TWO things that keep that state bounded are the
    watermarks (how late a row may arrive) and the time-range
    condition (how far apart matching rows may be). Without either,
    a stream-stream join accumulates state forever — Spark rejects
    outer variants outright in that case. ``how`` may be ``inner`` or
    ``left_outer``; left-outer emits the unmatched left row with NULL
    right columns once the watermark passes its match deadline.

    Right-side columns are prefixed ``r_`` (the join key becomes
    ``r_<key>``) so the output schema is collision-free.

    Reference parity: the reference has no cross-message correlation
    at all (`/root/reference/trollflow2/launcher.py` processes each
    message independently); this is pure added capability on the
    Structured Streaming engine.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError("stream_stream_join supports inner|left_outer")
    r = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withWatermark(f"r_{right_ts}", watermark)
    lw = left.withWatermark(left_ts, watermark)
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(f"r_{right_ts}") >= F.col(left_ts))
        & (
            F.col(f"r_{right_ts}")
            <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return lw.join(r, cond, how)

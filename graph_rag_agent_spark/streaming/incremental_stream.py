"""Streaming operators.

The reference has NO stream processing — its nearest analogue is the
polling incremental-update daemon (incremental_update_scheduler.py, N9),
which maps to batch-incremental `IncrementalUpdatePipeline.run_once`
runs; a change there is scoped to the delta, not streamed. These
operators run on a Structured Streaming frame and on a static one alike:

- ``windowed_event_counts`` / ``sessionized_event_counts``: watermarked
  sliding-window and gap-session aggregation over an events stream;
- ``cascading_rollup``: multi-resolution rollups, each level aggregated
  from the one below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def windowed_event_counts(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """events(ts, event_type, value) → watermarked windowed counts/sums.
    Works identically on a static frame (tests) and a stream."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return src.groupBy(F.window("ts", window).alias("w"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type", "n_events", "total_value",
    )


def sessionized_event_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """events(ts, user_id, value) → per-user GAP SESSIONS: Spark's native
    ``session_window`` (dynamic-gap merging inside the aggregation — the
    stateful sessionization Structured Streaming runs with watermark-bounded
    state), evaluated identically on a static frame. A session's end is
    last-event + gap (the builtin's close semantics); the DuckDB twin
    reproduces it with the classic gaps-and-islands form (lag + cumulative
    new-session flag), so the builtin's merge rule is value-checked, not
    assumed. Works on a stream (append mode after the watermark closes a
    session) and on batch."""
    src = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def cascading_rollup(events: DataFrame) -> DataFrame:
    """→ (resolution_s, window_start, event_type, n_events, total_value): the
    hypertable continuous-aggregate cascade — the FINEST resolution
    aggregates the raw events once; every coarser level re-aggregates the
    PREVIOUS level's partials (count-of-counts / sum-of-sums, exact by
    associativity). Refreshing a day therefore touches 24 hourly partials
    instead of the raw rows — the property that makes multi-resolution
    rollups affordable at 100 TB (and the shape a Structured Streaming
    foreachBatch refresh would write level-by-level). The resolutions (5
    minutes, 1 hour, 1 day) each divide the next; rounding happens only at
    the output so cascaded sums stay bit-comparable to direct aggregation."""
    res = (300, 3600, 86400)
    bucket = (F.floor(F.unix_timestamp(F.col("ts")) / res[0]) * res[0]).alias("_b")
    level = events.groupBy(bucket, "event_type").agg(
        F.count("*").alias("_n"), F.sum("value").alias("_v")
    )
    out = []
    for i, r in enumerate(res):
        if i > 0:
            level = level.groupBy(
                (F.floor(F.col("_b") / r) * r).alias("_b"), "event_type"
            ).agg(F.sum("_n").alias("_n"), F.sum("_v").alias("_v"))
        out.append(level.select(
            F.lit(r).alias("resolution_s"),
            F.to_timestamp(F.col("_b")).alias("window_start"),
            F.col("event_type"),
            F.col("_n").cast("long").alias("n_events"),
            F.round("_v", 6).alias("total_value"),
        ))
    acc = out[0]
    for df in out[1:]:
        acc = acc.unionByName(df)
    return acc


"""Streaming operators.

The reference has NO stream processing — its nearest analogue is the
polling incremental-update daemon (incremental_update_scheduler.py, N9),
which maps to batch-incremental `IncrementalUpdatePipeline.run_once`
runs. These operators run on a Structured Streaming frame and on a
static one alike:

- ``streaming_triples``: corpus stream → triples as one stateless append
  plan (chunk → extract → parse);
- ``streaming_first_seen``: stateful first-occurrence dedup by key;
- ``windowed_event_counts`` / ``sessionized_event_counts``: watermarked
  sliding-window and gap-session aggregation over an events stream;
- ``cascading_rollup`` / ``refresh_rollup``: multi-resolution rollups and
  their delta refresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_triples(
    stream: DataFrame,
    extractor=None,
    max_gleanings=None,
) -> DataFrame:
    """corpus stream → CONTINUOUS triple extraction: chunk (mapInPandas) →
    extract (hash repartition + mapInPandas, gleaning passes included) →
    parse (stateless select) — the full E-family build path as ONE
    streaming plan, no foreachBatch. Every stage is stateless, so the
    query runs in append mode with the file source's exactly-once
    semantics: each new corpus file is chunked, extracted, and parsed into
    (subj, pred, obj, description, weight, chunk_id) rows exactly once,
    identical to the batch plan on the same rows (pytest-gated). The
    within-batch chunk dedup the batch path does still happens (equal
    chunk_ids co-partition in the extraction shuffle); cross-batch
    re-extraction of already-seen texts is suppressed by composing
    ``streaming_first_seen`` on chunk_id after chunking."""
    from graph_rag_agent_spark.operators.chunker import chunk_documents
    from graph_rag_agent_spark.operators.extraction import extract_chunks
    from graph_rag_agent_spark.operators.parsing import (
        parse_records,
        relationships_from_records,
    )

    chunks = chunk_documents(stream)
    results = extract_chunks(chunks, extractor=extractor, max_gleanings=max_gleanings)
    return relationships_from_records(parse_records(results))


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """events(ts, event_type, value) → watermarked windowed counts/sums.
    Works identically on a static frame (tests) and a stream."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return src.groupBy(win.alias("w"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type", "n_events", "total_value",
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """events(ts, user_id, value) → per-key GAP SESSIONS: Spark's native
    ``session_window`` (dynamic-gap merging inside the aggregation — the
    stateful sessionization Structured Streaming runs with watermark-bounded
    state), evaluated identically on a static frame. A session's end is
    last-event + gap (the builtin's close semantics); the DuckDB twin
    reproduces it with the classic gaps-and-islands form (lag + cumulative
    new-session flag), so the builtin's merge rule is value-checked, not
    assumed. Works on a stream (append mode after the watermark closes a
    session) and on batch."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def streaming_first_seen(
    stream: DataFrame,
    key_col: str = "chunk_id",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): emits
    each key the FIRST time it appears across micro-batches — the streaming
    form of the extraction-cache dedup (a chunk already extracted in any
    earlier batch is never re-extracted). State per key group = the set of
    keys already seen.

    → (key string, first_batch_rows int): the row count of the batch that
    first delivered the key (diagnostic; consumers typically join back on
    key). Works only on streaming frames."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # group by a hash bucket of the key so state shards evenly at scale
    bucketed = stream.withColumn(
        "_bucket", F.pmod(F.xxhash64(key_col), F.lit(64)).cast("int")
    )

    def dedup_group(key, pdfs, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        out_keys = []
        for pdf in pdfs:
            for k in pdf[key_col]:
                if k not in seen:
                    seen.add(k)
                    out_keys.append(k)
        state.update((list(seen),))
        yield pd.DataFrame({"key": out_keys, "first_batch_rows": [len(out_keys)] * len(out_keys)})

    return bucketed.groupBy("_bucket").applyInPandasWithState(
        dedup_group,
        outputStructType="key string, first_batch_rows int",
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cascading_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    resolutions: tuple = (300, 3600, 86400),
    keep_partials: bool = False,
) -> DataFrame:
    """→ (resolution_s, window_start, key, n_events, total_value): the
    hypertable continuous-aggregate cascade — the FINEST resolution
    aggregates the raw events once; every coarser level re-aggregates the
    PREVIOUS level's partials (count-of-counts / sum-of-sums, exact by
    associativity). Refreshing a day therefore touches 24 hourly partials
    instead of the raw rows — the property that makes multi-resolution
    rollups affordable at 100 TB (and the shape a Structured Streaming
    foreachBatch refresh would write level-by-level). Resolutions must be
    ascending and each a multiple of the previous (asserted); rounding
    happens only at the output so cascaded sums stay bit-comparable to
    direct aggregation.

    With ``keep_partials=True`` an extra UNROUNDED ``_v_raw`` column is
    kept — the state a maintained rollup persists so that
    ``refresh_rollup`` stays bit-exact at any refresh depth (round only at
    read time)."""
    res = [int(r) for r in resolutions]
    assert all(b % a == 0 for a, b in zip(res, res[1:])), (
        "each resolution must be a multiple of the previous"
    )
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / res[0]) * res[0]).alias("_b")
    level = events.groupBy(bucket, key_col).agg(
        F.count("*").alias("_n"), F.sum(value_col).alias("_v")
    )
    out = []
    for i, r in enumerate(res):
        if i > 0:
            level = level.groupBy(
                (F.floor(F.col("_b") / r) * r).alias("_b"), key_col
            ).agg(F.sum("_n").alias("_n"), F.sum("_v").alias("_v"))
        cols = [
            F.lit(r).alias("resolution_s"),
            F.to_timestamp(F.col("_b")).alias("window_start"),
            F.col(key_col),
            F.col("_n").cast("long").alias("n_events"),
            F.round("_v", 6).alias("total_value"),
        ]
        if keep_partials:
            cols.append(F.col("_v").alias("_v_raw"))
        out.append(level.select(*cols))
    acc = out[0]
    for df in out[1:]:
        acc = acc.unionByName(df)
    return acc


def refresh_rollup(
    prior: DataFrame,
    new_events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    resolutions: tuple = (300, 3600, 86400),
) -> DataFrame:
    """→ the maintained rollup: merge a DELTA of new events into a prior
    ``cascading_rollup`` result — the continuous-aggregate refresh step a
    foreachBatch sink runs per micro-batch. The delta is cascaded on its
    own (touching only ITS buckets), then sum-merged with the prior
    partials per (resolution, window, key) — one shuffle over the touched
    buckets + the prior table, never the raw history. Exact by the same
    associativity the cascade relies on: pytest gates
    refresh(prior, delta) ≡ cascading_rollup(all events) bit-exactly.

    The maintained state carries the UNROUNDED ``_v_raw`` partial and
    round(·, 6) is applied only to the read-side ``total_value`` column,
    so refresh is bit-exact at any micro-batch depth. A prior frame
    without ``_v_raw`` (a plain read-side rollup) is accepted for
    back-compat by seeding the partial from its rounded total_value —
    that path alone carries the < 2·10⁻⁶-per-merge rounding drift."""
    delta = cascading_rollup(
        new_events, ts_col=ts_col, key_col=key_col, value_col=value_col,
        resolutions=resolutions, keep_partials=True,
    )
    if "_v_raw" not in prior.columns:
        prior = prior.withColumn("_v_raw", F.col("total_value"))
    merged = (
        prior.select("resolution_s", "window_start", key_col, "n_events", "_v_raw")
        .unionByName(
            delta.select(
                "resolution_s", "window_start", key_col, "n_events", "_v_raw"
            )
        )
        .groupBy("resolution_s", "window_start", key_col)
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("_v_raw").alias("_v_raw"),
        )
    )
    return merged.select(
        "resolution_s", "window_start", key_col, "n_events",
        F.round("_v_raw", 6).alias("total_value"), "_v_raw",
    )

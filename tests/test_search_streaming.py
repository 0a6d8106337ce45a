"""Query-side retrieval (Q1-Q4) and streaming wrappers."""

import tempfile

from pyspark.sql import functions as F

from graph_rag_agent_spark.functions.embedder import embed_text
from graph_rag_agent_spark.operators.search import (
    global_search_map,
    global_search_reduce,
    seed_entities_by_similarity,
    seed_relationships,
    top_chunks_for_seeds,
    top_communities_for_seeds,
)
from graph_rag_agent_spark.streaming.incremental_stream import windowed_event_counts


def _graph(spark):
    nodes = spark.createDataFrame(
        [("DataLoader", "class", "x"), ("HttpClient", "class", "y"), ("parse_config", "function", "z")],
        "entity_id string, entity_type string, description string",
    )
    emb = spark.createDataFrame(
        [(r.entity_id, [float(x) for x in embed_text(f"{r.entity_id} {r.description}")])
         for r in nodes.collect()],
        "entity_id string, embedding array<float>",
    )
    edges = spark.createDataFrame(
        [("DataLoader", "calls", "parse_config", "d", 2.0, "c1"),
         ("DataLoader", "calls", "HttpClient", "d", 1.0, "c2"),
         ("HttpClient", "refs", "parse_config", "d", 0.5, "c3")],
        "subj string, pred string, obj string, description string, weight double, chunk_id string",
    )
    chunks = spark.createDataFrame(
        [("c1", "text one"), ("c2", "text two"), ("c3", "text three")],
        "chunk_id string, text string",
    )
    mentions = spark.createDataFrame(
        [("c1", "DataLoader"), ("c1", "parse_config"), ("c2", "DataLoader"),
         ("c2", "HttpClient"), ("c3", "HttpClient"), ("c3", "parse_config")],
        "chunk_id string, entity_id string",
    )
    membership = spark.createDataFrame(
        [("0-0", 0, "DataLoader"), ("0-0", 0, "parse_config"), ("0-1", 0, "HttpClient")],
        "community_id string, level int, member_id string",
    )
    summaries = spark.createDataFrame(
        [("0-0", 0, 5, "sum zero", "full zero"), ("0-1", 0, 2, "sum one", "full one")],
        "community_id string, level int, rank long, summary string, full_content string",
    )
    return nodes, emb, edges, chunks, mentions, membership, summaries


def test_local_search_path(spark):
    nodes, emb, edges, chunks, mentions, membership, summaries = _graph(spark)
    q = embed_text("DataLoader class x")
    seeds = seed_entities_by_similarity(emb, [float(x) for x in q], k=1)
    assert seeds.collect()[0].entity_id == "DataLoader"

    top_chunks = top_chunks_for_seeds(mentions, chunks, seeds)
    # DataLoader is mentioned in c1 and c2 only
    assert {r.text for r in top_chunks.collect()} == {"text one", "text two"}

    comms = top_communities_for_seeds(membership, summaries, mentions, seeds)
    got = comms.collect()
    # 0-0 members (DataLoader, parse_config) are mentioned in c1, c2, c3
    assert got[0].community_id == "0-0" and got[0].weight == 3

    inside, outside = seed_relationships(edges, seeds)
    ins = {(r.subj, r.obj) for r in inside.collect()}
    outs = {(r.subj, r.obj) for r in outside.collect()}
    assert ins == set()  # only one seed → no both-endpoint edges
    assert ("DataLoader", "parse_config") in outs and ("DataLoader", "HttpClient") in outs


def test_global_search_map_reduce(spark):
    *_, membership, summaries = _graph(spark)
    mapped = global_search_map(summaries, level=0)
    assert mapped.count() == 2
    reduced = global_search_reduce(mapped)
    assert "[map] sum zero" in reduced and "[map] sum one" in reduced
    custom = global_search_map(summaries, level=0, map_fn=lambda fc: fc.upper())
    assert {r.intermediate for r in custom.collect()} == {"FULL ZERO", "FULL ONE"}


def test_local_search_context_assembly(spark):
    """The composed Q1 context: one row per non-empty section, content =
    newline-join in retrieval order (chunks freq desc, communities
    (rank, weight) desc, relationships weight desc)."""
    from graph_rag_agent_spark.operators.search import local_search_context

    nodes, emb, edges, chunks, mentions, membership, summaries = _graph(spark)
    seeds = spark.createDataFrame(
        [("DataLoader",), ("HttpClient",)], "entity_id string"
    )
    got = {r.section: r.content for r in local_search_context(
        chunks, mentions, edges, membership, summaries, seeds
    ).collect()}
    assert set(got) == {"chunk", "community", "rel_inside", "rel_outside"}
    # every chunk mentions ≥1 seed; c1/c2 tie at freq — sha asc breaks it
    assert sorted(got["chunk"].split("\n")) == ["text one", "text three", "text two"]
    # both communities are seed-hit; 0-0 has higher rank → first
    assert got["community"] == "sum zero\nsum one"
    # DataLoader->HttpClient is the only both-endpoint edge
    assert got["rel_inside"] == "DataLoader -calls-> HttpClient"
    # outside: weight desc → calls(2.0) before refs(0.5)
    assert got["rel_outside"] == (
        "DataLoader -calls-> parse_config\nHttpClient -refs-> parse_config"
    )


def test_local_search_context_empty_sections(spark):
    """Sections with no parts emit no row (a single isolated seed has no
    inside relationships and hits no community)."""
    from graph_rag_agent_spark.operators.search import local_search_context

    nodes, emb, edges, chunks, mentions, membership, summaries = _graph(spark)
    seeds = spark.createDataFrame([("parse_config",)], "entity_id string")
    got = {r.section: r.content for r in local_search_context(
        chunks, mentions, edges, membership, summaries, seeds
    ).collect()}
    assert "rel_inside" not in got  # one seed → no both-endpoint edge
    assert "chunk" in got and "rel_outside" in got


def test_global_search_reduce_df_matches_string_form(spark):
    from graph_rag_agent_spark.operators.search import global_search_reduce_df

    *_, membership, summaries = _graph(spark)
    mapped = global_search_map(summaries, level=0)
    row = global_search_reduce_df(mapped).collect()
    assert len(row) == 1
    assert row[0].answer == global_search_reduce(mapped)


def test_windowed_event_counts_static(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events, window="1 hour")
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r.n_events for r in rows)
    assert total == events.count()


def test_windowed_event_counts_streaming(spark):
    import shutil

    with tempfile.TemporaryDirectory(prefix="graft_stream_") as tmp:
        # the file stream source requires a directory of files
        src_dir = f"{tmp}/in"
        ckpt = f"{tmp}/ckpt"
        import os

        os.makedirs(src_dir)
        shutil.copy("/root/testdata/sf0.001/events.parquet", src_dir)
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            )
            .parquet(src_dir)
        )
        agg = windowed_event_counts(stream, window="1 hour")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("winout")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        static_total = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
        got = spark.sql("SELECT sum(n_events) AS n FROM winout").collect()[0].n
        assert got == static_total


def test_sessionized_event_counts_gap_semantics(spark):
    """Events within the gap merge into one session (end = last + gap);
    a larger silence splits; keys never merge across users."""
    from graph_rag_agent_spark.streaming.incremental_stream import (
        sessionized_event_counts,
    )

    rows = [
        ("2024-01-01 10:00:00", 1, 1.0),
        ("2024-01-01 10:20:00", 1, 2.0),   # within 30min of prev → same session
        ("2024-01-01 10:45:00", 1, 3.0),   # within 30min of 10:20 → still same
        ("2024-01-01 12:00:00", 1, 4.0),   # >30min silence → new session
        ("2024-01-01 10:10:00", 2, 5.0),   # other user: own session
    ]
    events = spark.createDataFrame(rows, "ts string, user_id long, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.total_value)
        for r in sessionized_event_counts(events, gap="30 minutes").collect()
    )
    assert got == [
        (1, "2024-01-01 10:00:00", "2024-01-01 11:15:00", 3, 6.0),
        (1, "2024-01-01 12:00:00", "2024-01-01 12:30:00", 1, 4.0),
        (2, "2024-01-01 10:10:00", "2024-01-01 10:40:00", 1, 5.0),
    ]


def test_cascading_rollup_matches_direct_aggregation(spark):
    """Coarse levels re-aggregate fine partials; result must equal direct
    aggregation from raw at every resolution (associativity)."""
    from graph_rag_agent_spark.streaming.incremental_stream import cascading_rollup

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = cascading_rollup(events)
    for r in (300, 3600, 86400):
        direct = (
            events.groupBy(
                (F.floor(F.unix_timestamp("ts") / r) * r).alias("b"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
        )
        lvl = got.filter(F.col("resolution_s") == r).select(
            F.unix_timestamp("window_start").alias("b"), "event_type",
            F.col("n_events").alias("n"), F.col("total_value").alias("v"),
        )
        assert sorted(map(tuple, lvl.collect())) == sorted(map(tuple, direct.collect()))
    # totals conserved across levels
    per_level = {r["resolution_s"]: r["s"] for r in
                 got.groupBy("resolution_s").agg(F.sum("n_events").alias("s")).collect()}
    assert len(set(per_level.values())) == 1

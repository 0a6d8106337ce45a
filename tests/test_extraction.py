"""Extraction wire format, batching/repair, cache anti-join, parsing
(reference entity_extractor.py, graph_writer.py)."""

import pandas as pd
from pyspark.sql import functions as F

from graph_rag_agent_spark.config import BATCH_SEPARATOR, UNKNOWN_ENTITY_TYPE
from graph_rag_agent_spark.functions.extractor import (
    DeterministicCodeExtractor,
    dynamic_batch_size,
    extract_batch,
)
from graph_rag_agent_spark.functions.wire_format import (
    emit_entity,
    emit_relationship,
    parse_entities,
    parse_relationships,
)
from graph_rag_agent_spark.operators.chunker import chunk_documents
from graph_rag_agent_spark.operators.extraction import extract_chunks
from graph_rag_agent_spark.plans.build import graph_stage

SAMPLE = '''"""Module sample_mod。 demo"""

import utils_core
from io_layer import load_batch

MAX_LIMIT = 10

class DataLoader(BaseThing):
    def load_batch(self, arg):
        out = parse_config(arg)
        return load_batch(out)
'''


def test_wire_format_roundtrip():
    rec = emit_entity("A", "class", "desc") + "\n" + emit_relationship("A", "B", "calls", "d", 0.7)
    assert parse_entities(rec) == [("A", "class", "desc")]
    assert parse_relationships(rec) == [("A", "B", "calls", "d", 0.7)]


def test_extractor_finds_planted_entities():
    raw = DeterministicCodeExtractor()(SAMPLE)
    ents = {e[0]: e[1] for e in parse_entities(raw)}
    assert ents["sample_mod"] == "module"
    assert ents["utils_core"] == "module"
    assert ents["DataLoader"] == "class"
    assert ents["MAX_LIMIT"] == "constant"
    rels = {(r[0], r[2], r[1]) for r in parse_relationships(raw)}
    assert ("sample_mod", "imports", "utils_core") in rels
    assert ("DataLoader", "inherits", "BaseThing") in rels


def test_compute_weighted_extractor_output_identical():
    from graph_rag_agent_spark.functions.extractor import ComputeWeightedExtractor

    heavy = ComputeWeightedExtractor(us_per_char=0.1)
    assert heavy(SAMPLE) == DeterministicCodeExtractor()(SAMPLE)


def test_dynamic_batch_size():
    assert dynamic_batch_size([]) == 1
    assert dynamic_batch_size([10_000]) == 1
    assert dynamic_batch_size([10] * 5) > 1


def test_extract_batch_mismatch_repair():
    extractor = DeterministicCodeExtractor()

    calls = {"n": 0}

    def separator_eating(text: str) -> str:
        calls["n"] += 1
        # a broken "LLM" that strips the separator → count mismatch → repair
        if BATCH_SEPARATOR in text:
            return "garbage"
        return extractor(text)

    texts = [SAMPLE, SAMPLE.replace("sample_mod", "other_mod")]
    # the joined call happens through _extract_joined which splits first;
    # emulate a true batch mismatch by a wrapper that merges output
    import graph_rag_agent_spark.functions.extractor as ext_mod

    orig = ext_mod._extract_joined
    ext_mod._extract_joined = lambda bt, ex: "no separators here"
    try:
        results = extract_batch(texts, extractor)
    finally:
        ext_mod._extract_joined = orig
    assert len(results) == 2
    assert parse_entities(results[0])  # repair pass produced real output


def test_cache_anti_join(spark, tiny_corpus):
    chunks = chunk_documents(tiny_corpus).cache()
    some_id = chunks.select("chunk_id").first().chunk_id
    cache = spark.createDataFrame(
        [(some_id, '("entity" : "FROM_CACHE" : "class" : "cached")')],
        "chunk_sha1 string, raw_result string",
    )
    out = extract_chunks(chunks, cache=cache)
    row = out.filter(F.col("chunk_id") == some_id).collect()
    assert len(row) == 1 and "FROM_CACHE" in row[0].raw_result
    # all other chunks extracted fresh
    n_distinct = chunks.select("chunk_id").distinct().count()
    assert out.count() == n_distinct


def test_build_graph_tables_placeholders_and_first_wins(spark):
    raw1 = "\n".join([
        emit_entity("A", "class", "a desc"),
        emit_relationship("A", "Ghost", "calls", "d", 0.5),
    ])
    raw2 = "\n".join([
        emit_entity("A", "function", "other desc"),  # later chunk_id loses
        emit_relationship("A", "B", "calls", "d", 0.5),
    ])
    results = spark.createDataFrame(
        [("c1", raw1), ("c2", raw2)], "chunk_id string, raw_result string"
    )
    nodes, edges, mentions = graph_stage(results, lambda name, df: df)
    nd = {r.entity_id: r for r in nodes.collect()}
    # Ghost + B never declared → placeholder 未知 (graph_writer.py:74-98)
    assert nd["Ghost"].entity_type == UNKNOWN_ENTITY_TYPE
    assert nd["B"].entity_type == UNKNOWN_ENTITY_TYPE
    # first-wins by chunk_id: c1's type survives
    assert nd["A"].entity_type == "class"
    assert edges.count() == 2
    m = {(r.chunk_id, r.entity_id) for r in mentions.collect()}
    assert ("c1", "Ghost") in m and ("c2", "B") in m and ("c1", "A") in m


def test_spark_parse_matches_regex_on_delimiter_bearing_descriptions(spark):
    """Spark split-based field extraction ≡ the reference regex twin even
    when a description CONTAINS the tuple delimiter (an LLM extractor can
    emit `" : "` in free text) — the round-2 advisory's divergence case."""
    from graph_rag_agent_spark.operators import parsing as sp

    raw = "\n".join([
        emit_entity("E1", "class", 'plain description'),
        # description containing the FULL tuple delimiter
        emit_entity("E2", "class", 'left" : "right'),
        # description containing the partial `" : ` (no trailing quote)
        emit_entity("E3", "class", 'left" : 9right'),
        emit_relationship("E1", "E2", "calls", "plain", 0.5),
        # desc with full delimiter → regex yields unparseable weight → drop
        emit_relationship("E1", "E3", "calls", 'a" : "b', 0.5),
        # desc with partial delimiter → also dropped by the reference
        emit_relationship("E2", "E3", "calls", 'a" : 9', 0.5),
    ])
    results = spark.createDataFrame([("c1", raw)], "chunk_id string, raw_result string")
    records = sp.parse_records(results)

    got_ents = {
        (r.entity_id, r.entity_type, r.description)
        for r in sp.entities_from_records(records).collect()
    }
    want_ents = {(e, t, d) for e, t, d in parse_entities(raw)}
    assert got_ents == want_ents
    assert ("E2", "class", 'left" : "right') in got_ents

    got_rels = {
        (r.subj, r.obj, r.pred, r.description, r.weight)
        for r in sp.relationships_from_records(records).collect()
    }
    want_rels = {(s, t, p, d, w) for s, t, p, d, w in parse_relationships(raw)}
    assert got_rels == want_rels


def test_poisoned_chunk_degrades_per_row(spark, tiny_corpus):
    """A chunk whose extraction raises yields an empty wire result while
    every other chunk extracts normally — per-item degradation (reference
    entity_extractor.py:190-206), never a task failure."""
    base = DeterministicCodeExtractor()
    poison_marker = None

    chunks = chunk_documents(tiny_corpus)
    poison_marker = chunks.select("text").first().text[:40]

    def poisoned(text):
        if text.startswith(poison_marker):
            raise RuntimeError("model refused")
        return base(text)

    out = extract_chunks(chunks, extractor=poisoned).collect()
    n_distinct = chunks.select("chunk_id").distinct().count()
    assert len(out) == n_distinct  # no rows lost, no task failure
    empties = [r for r in out if r.raw_result == ""]
    nonempty = [r for r in out if r.raw_result]
    assert len(empties) >= 1  # the poisoned chunk degraded
    assert len(nonempty) >= n_distinct - len(empties)
    assert any(parse_entities(r.raw_result) for r in nonempty)


# ---- gleaning passes (GraphRAG-style continuation; north-star E-family) ----

def test_gleaning_reconverges_to_base_output():
    """An imperfect first pass (half the records) plus gleaning passes must
    reproduce the single-pass extractor's full record set, order-stable."""
    from graph_rag_agent_spark.functions.extractor import (
        TruncatingGleaningExtractor,
        extract_with_gleanings,
    )

    base = DeterministicCodeExtractor()
    ext = TruncatingGleaningExtractor(base, fraction=0.5)
    first = ext(SAMPLE)
    full = base(SAMPLE)
    assert first != full and full.startswith(first)  # strict prefix subset
    healed = extract_with_gleanings(SAMPLE, first, ext, max_gleanings=3)
    assert healed == full


def test_gleaning_multi_pass_and_needs_more_stop():
    """per_pass=2 forces several continuation calls; once complete,
    needs_more halts the loop before the pass budget is spent."""
    from graph_rag_agent_spark.functions.extractor import (
        TruncatingGleaningExtractor,
        extract_with_gleanings,
    )

    base = DeterministicCodeExtractor()
    n_records = len(base(SAMPLE).split("\n"))
    ext = TruncatingGleaningExtractor(base, fraction=0.25, per_pass=2)
    healed = extract_with_gleanings(SAMPLE, ext(SAMPLE), ext, max_gleanings=50)
    assert healed == base(SAMPLE)
    # missing = ceil(0.75 * n) records, drained 2 per glean call
    assert 2 <= ext.calls["glean"] <= (n_records + 1) // 2 + 1
    # needs_more consulted between passes, and the loop stopped early (well
    # under the 50-pass budget)
    assert ext.calls["needs_more"] >= 1
    assert ext.calls["glean"] < 50


def test_gleaning_noop_for_plain_callables():
    from graph_rag_agent_spark.functions.extractor import extract_with_gleanings

    base = DeterministicCodeExtractor()
    assert extract_with_gleanings(SAMPLE, base(SAMPLE), base, 5) == base(SAMPLE)


def test_extract_chunks_applies_gleanings(spark):
    """End-to-end: the Spark extraction stage with a truncating extractor and
    gleaning enabled matches the complete extractor bit-for-bit; with
    gleaning disabled the records are a strict subset."""
    from graph_rag_agent_spark.functions.extractor import (
        TruncatingGleaningExtractor,
    )

    corpus = spark.createDataFrame(
        [("r", "a.py", "c1", "python", SAMPLE)],
        "repo string, path string, commit string, lang string, content string",
    )
    chunks = chunk_documents(corpus, 300, 50, 10_000)

    def results_of(extractor, max_gleanings):
        rows = extract_chunks(
            chunks, extractor=extractor, max_gleanings=max_gleanings
        ).collect()
        return {r.chunk_id: r.raw_result for r in rows}

    complete = results_of(DeterministicCodeExtractor(), 0)
    healed = results_of(TruncatingGleaningExtractor(fraction=0.5), 3)
    truncated = results_of(TruncatingGleaningExtractor(fraction=0.5), 0)
    assert healed == complete
    assert truncated != complete
    assert all(complete[k].startswith(v) for k, v in truncated.items())

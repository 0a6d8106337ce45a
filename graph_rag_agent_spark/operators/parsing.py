"""Parse wire-format extraction results → nodes / edges / mentions tables.

Reference: GraphWriter.convert_to_graph_document (graph_writer.py:36-131):
two regexes pull entity and relationship records out of the raw text,
relationship endpoints missing from the entity set get placeholder nodes
(type 未知), the node_cache keeps first-wins properties per entity id, and
every chunk's node set becomes MENTIONS provenance.

Spark mapping — everything JVM-side (regexp_extract_all + explode inside
whole-stage codegen; no Python in this stage):

- E4/E5 parse      → parse_records: both regexp_extract_all discovery
                     scans in one pass → explode → split() field
                     extraction per record kind
- E6/E7/E8         → one per-chunk *occurrences* table (declared entity
                     records flag 0; relationship endpoints flag 1 with the
                     未知 placeholder props), from which
                     nodes    = groupBy(entity_id).agg(min(struct(flag,
                                type, desc))) — declared always beats
                                placeholder, then lexicographic min: an
                                ORDER-INDEPENDENT deterministic stand-in for
                                the reference's thread-completion-order
                                first-wins cache (documented deviation; the
                                pure-Python oracle applies the same rule), and
                     mentions = the (chunk_id, entity_id) projection,
                                already distinct.
                     Order-independence is what makes incremental GC exact:
                     occurrences are chunk-provenanced, so deleting a doc =
                     anti-join its chunks and re-derive — identical to a
                     full rebuild.

Scale notes: the only shuffles are the groupBys on entity_id and
(chunk_id, entity_id) — well-distributed keys with map-side partial
aggregation. Edges stay partitioned by chunk provenance; no driver-side
collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_rag_agent_spark.config import (
    UNKNOWN_ENTITY_DESCRIPTION,
    UNKNOWN_ENTITY_TYPE,
)
from graph_rag_agent_spark.functions.wire_format import (
    ENTITY_PATTERN,
    RELATIONSHIP_PATTERN,
)


# field extraction from a DISCOVERED record (one that already matched the
# full reference regex) is done with split() string ops: per-field
# regexp_extract measured ~40× slower than the whole-stage-codegen'd split
# on a 30k-doc corpus (lazy-quantifier backtracking per field per row).
#
# Exact equivalence with the lazy regex, including descriptions that CONTAIN
# the tuple delimiter (an LLM extractor can emit `" : "` inside free text):
# the discovery regex bounds the record at the first viable terminator, and
# its lazy leading groups cut at the EARLIEST full `" : "` occurrences —
# the same cut points split() produces — so the leading fields are always
# parts 2..k, and the description is the REJOIN of every remaining part
# (slice + array_join restores any delimiter the description contained).
# The relationship tail additionally splits desc from weight at the first
# `" : ` (no trailing quote — the regex's `" : (.+?)\)` boundary), so a
# delimiter-bearing description yields the same unparseable-weight →
# row-dropped outcome as the reference's float() try/except.
_FIELD_SEP = '" : "'


def _fields(rec) -> F.Column:
    return F.split(rec, F.lit(_FIELD_SEP), -1)


def _rejoin_from(parts: F.Column, start: int) -> F.Column:
    """Re-join parts[start..] with the field separator — reconstructs the
    raw text after the (start-1)-th delimiter even when the description
    itself contains `" : "`."""
    return F.array_join(
        F.slice(parts, F.lit(start), F.size(parts) - (start - 1)), _FIELD_SEP
    )


def parse_records(results: DataFrame) -> DataFrame:
    """(chunk_id, raw_result) → (chunk_id, kind, rec): every discovered
    wire record, kind 'E' (entity) / 'R' (relationship), in wire order —
    BOTH discovery regexes evaluated in ONE pass over the raw text (one
    tagged-array concat + one explode). This is the only regexp evaluation
    in the parse phase: checkpoint this frame once and entities, edges,
    occurrences, nodes and mentions all derive from it via codegen'd
    split()s. (Parsing each table straight from raw_result re-runs the
    regex scan per table — 3× the regex work, and at the bench scale the
    extra passes land in the post-extraction window where this host
    thermally throttles; see BENCH.md.)"""
    ent = F.regexp_extract_all(F.col("raw_result"), F.lit(ENTITY_PATTERN), F.lit(0))
    rel = F.regexp_extract_all(F.col("raw_result"), F.lit(RELATIONSHIP_PATTERN), F.lit(0))
    tagged = F.concat(
        F.transform(ent, lambda r: F.struct(F.lit("E").alias("kind"), r.alias("rec"))),
        F.transform(rel, lambda r: F.struct(F.lit("R").alias("kind"), r.alias("rec"))),
    )
    return results.select("chunk_id", F.explode(tagged).alias("_r")).select(
        "chunk_id", F.col("_r.kind").alias("kind"), F.col("_r.rec").alias("rec")
    )


def _entity_fields(records: DataFrame) -> DataFrame:
    """records (kind='E' rows) → (chunk_id, entity_id, entity_type,
    description), one row per entity RECORD (no per-chunk dedup). Pure
    split() field extraction — no regex."""
    parts = _fields(F.col("rec"))
    return (
        records.filter(F.col("kind") == "E")
        .select(
            "chunk_id",
            F.element_at(parts, 2).alias("entity_id"),
            F.element_at(parts, 3).alias("entity_type"),
            # 'DESC")' — rejoined so a DESC containing `" : "` survives
            _rejoin_from(parts, 4).alias("_t"),
        )
        .withColumn("description", F.expr("substring(_t, 1, length(_t) - 2)"))
        .drop("_t")
    )


def entities_from_records(records: DataFrame) -> DataFrame:
    """records (kind='E' rows) → (chunk_id, entity_id, entity_type,
    description), one row per (chunk, entity)."""
    return _entity_fields(records).dropDuplicates(["chunk_id", "entity_id"])


def relationships_from_records(records: DataFrame) -> DataFrame:
    """records (kind='R' rows) → edges(subj, pred, obj, description,
    weight, chunk_id). Pure split() field extraction — no regex."""
    parts = _fields(F.col("rec"))
    # rejoined tail is 'DESC" : WEIGHT)' (DESC may itself contain `" : "`);
    # the regex's desc/weight boundary is the FIRST `" : ` (no trailing
    # quote) — limit=2 reproduces the lazy cut; the weight field is unquoted
    tail = F.split(_rejoin_from(parts, 5), F.lit('" : '), 2)
    # try_cast = the reference's float() try/except: a weight made
    # unparseable by a delimiter-bearing description drops the row
    weight = F.expr("try_cast(substring(_w, 1, length(_w) - 1) as double)")
    return (
        records.filter(F.col("kind") == "R")
        .select(
            F.element_at(parts, 2).alias("subj"),
            F.element_at(parts, 4).alias("pred"),
            F.element_at(parts, 3).alias("obj"),
            F.element_at(tail, 1).alias("description"),
            F.element_at(tail, 2).alias("_w"),
            F.col("chunk_id"),
        )
        .withColumn("weight", weight)
        .filter(F.col("weight").isNotNull())
        # wire order is (src, tgt, type, ...) → (subj, obj, pred); reorder
        .select("subj", "pred", "obj", "description", "weight", "chunk_id")
    )


def occurrences_from_records(records: DataFrame) -> DataFrame:
    """records → occurrences(chunk_id, entity_id, placeholder, entity_type,
    description): EXACTLY one row per (chunk, entity), carrying the
    min-struct over every candidate the chunk contributed — declared entity
    records at placeholder=0, relationship endpoints at placeholder=1 with
    the 未知 props (graph_writer.py:74-98). The per-(chunk, entity) min is
    a partial aggregation of derive_nodes' global min, so node props are
    bit-identical to the reference rule (reference_builder.note(): min over
    ALL candidates — the former per-side dropDuplicates kept an arbitrary
    record per chunk before the min, which could diverge when one chunk
    re-declares an entity with differing props). One shuffle total, where
    the union of two separately-deduped sides cost three (round 6,
    guide §2.4)."""
    entities = _entity_fields(records).select(
        "chunk_id", "entity_id", F.lit(0).alias("placeholder"),
        "entity_type", "description",
    )
    edges = relationships_from_records(records)
    endpoints = (
        edges.select("chunk_id", F.col("subj").alias("entity_id"))
        .unionByName(edges.select("chunk_id", F.col("obj").alias("entity_id")))
        .select(
            "chunk_id", "entity_id", F.lit(1).alias("placeholder"),
            F.lit(UNKNOWN_ENTITY_TYPE).alias("entity_type"),
            F.lit(UNKNOWN_ENTITY_DESCRIPTION).alias("description"),
        )
    )
    return (
        entities.unionByName(endpoints)
        .groupBy("chunk_id", "entity_id")
        .agg(
            F.min(F.struct("placeholder", "entity_type", "description")).alias("_p")
        )
        .select(
            "chunk_id",
            "entity_id",
            F.col("_p.placeholder").alias("placeholder"),
            F.col("_p.entity_type").alias("entity_type"),
            F.col("_p.description").alias("description"),
        )
    )


def derive_nodes(occurrences: DataFrame) -> DataFrame:
    """occurrences → nodes(entity_id, entity_type, description): declared
    props beat placeholder props, then lexicographic min — order-independent
    (see module docstring)."""
    return (
        occurrences.groupBy("entity_id")
        .agg(
            F.min(F.struct("placeholder", "entity_type", "description")).alias("_p")
        )
        .select(
            "entity_id",
            F.col("_p.entity_type").alias("entity_type"),
            F.col("_p.description").alias("description"),
        )
    )

"""The entry file's KG queries against their DuckDB twins at sf0.01: each
query that reads the plans.build stage frames of the sf corpus or of the
crafted merge fixture, plus the SLLPA fixture query, must match its
``oracle_sql()`` twin in row count, column names and order-insensitive
value hash — the comparison ``tools/check_oracle.py`` makes for every
``queries()`` entry."""

import pathlib

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_oracle import TABLES, value_hash

# the sf0.01 tables beside the entry file's default sf0.001 ones
SF_DIR = str(pathlib.Path(entry_mod.SF_DEFAULT).with_name("sf0.01"))

KG_QUERIES = [
    "top_communities_for_seeds", "seed_relationships", "sllpa_overlap",
    "incremental_sllpa", "kg_triples_raw", "kg_entities", "kg_entity_degree",
    "kg_mention_counts", "kg_lineage_report", "kg_canonical_triples",
    "top_chunks_for_seeds", "consistency_report", "kg_graph_projection",
    "entity_linking", "link_mention", "community_summaries",
    "global_search_map", "global_search_reduce", "local_search_context",
    "manual_edit_survivors", "incremental_pagerank_warm",
    "graph_structure_report", "entity_pagerank", "seed_ppr",
    "seed_hop_distance", "seed_neighborhood_sample", "retrieval_eval",
    "k_core_members", "graph_quality_report", "triangle_counts",
    "kg_similar_pairs", "kg_wcc", "kg_merge_map", "kg_disambig_map",
    "kg_canonical_crafted", "alignment_conflicts",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", KG_QUERIES)
def test_kg_query_matches_oracle(spark, duck, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    res = duck.execute(entry_mod.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(rows) == len(orows)
    assert sorted(cols) == sorted(ocols)
    assert value_hash(rows, cols) == value_hash(orows, ocols)

"""Driver-built frames: ``session.local_frame`` round-trips typed rows as an
Arrow LocalTableScan at any size, and is the only place the package calls
``createDataFrame``."""

import inspect
import logging
import math
import pathlib

import pytest

from graph_rag_agent_spark import session
from graph_rag_agent_spark.session import local_frame

PACKAGE = pathlib.Path(session.__file__).parent


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_create_dataframe_only_inside_local_frame():
    calls = {p: p.read_text().count("createDataFrame(") for p in PACKAGE.rglob("*.py")}
    assert {p.name for p, n in calls.items() if n} == {"session.py"}
    assert calls[PACKAGE / "session.py"] == inspect.getsource(local_frame).count(
        "createDataFrame("
    )


CASES = {
    "null_and_nan_doubles": ("id string, x double", [("a", 1.5), ("b", None), ("c", float("nan"))]),
    "empty": ("id string, x double", []),
    "array_bigint": (
        "entity_id string, communities array<bigint>",
        [("a", [0, 3]), ("b", []), ("c", None), ("d", [2**40, None])],
    ),
    "int_vs_bigint": ("_pid int, _off bigint", [(0, 0), (1, 2**40), (2, -7)]),
    "cjk_strings": ("check string", [("数据加载器",), ("图谱",), ("",), (None,)]),
}


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_round_trip(spark, caplog, case):
    from pyspark.sql.types import StructType

    ddl, rows = CASES[case]
    with caplog.at_level(logging.INFO, logger=session.__name__):
        df = local_frame(spark, iter(rows), ddl)
    assert df.schema == StructType.fromDDL(ddl)
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(rows)
    assert all(
        all(_same(x, y) for x, y in zip(g, r)) for g, r in zip(got, rows)
    ), got
    plan = _plan(df)
    assert plan.lstrip("*(0123456789) ").startswith("LocalTableScan"), plan
    assert f"local_frame: {len(rows)} rows, Arrow LocalTableScan" in caplog.text


def test_local_frame_from_pandas(spark):
    """A pandas frame (the synthetic corpus) goes to Arrow whole, columns
    picked by name, and plans as the same LocalTableScan."""
    import pandas as pd

    from graph_rag_agent_spark.sources.corpus import CORPUS_COLUMNS, generate_corpus_pdf

    pdf = generate_corpus_pdf(50, seed=3)
    ddl = "repo string, path string, commit string, lang string, content string"
    df = local_frame(spark, pdf[list(reversed(CORPUS_COLUMNS))], ddl)
    assert df.columns == CORPUS_COLUMNS
    got = pd.DataFrame([tuple(r) for r in df.collect()], columns=CORPUS_COLUMNS)
    pd.testing.assert_frame_equal(got, pdf[CORPUS_COLUMNS].reset_index(drop=True))
    assert _plan(df).lstrip("*(0123456789) ").startswith("LocalTableScan"), _plan(df)


def _graph(spark):
    """Two near-duplicate families joined into one small code graph, built
    with local_frame so no input scan is itself a parallelized-row scan."""
    names = ["DataLoader", "Data_Loader", "DataLoaders", "HttpClient", "Http_Client",
             "QueryPlanner", "TokenStream"]
    nodes = local_frame(
        spark, [(n, "class", f"class {n}") for n in names],
        "entity_id string, entity_type string, description string",
    )
    pairs = [("DataLoader", "HttpClient"), ("Data_Loader", "HttpClient"),
             ("DataLoaders", "QueryPlanner"), ("QueryPlanner", "TokenStream"),
             ("Http_Client", "TokenStream"), ("TokenStream", "DataLoader")]
    edges = local_frame(
        spark, [(s, "calls", o, "d", 1.0, f"c{i}") for i, (s, o) in enumerate(pairs)],
        "subj string, pred string, obj string, description string, weight double, "
        "chunk_id string",
    )
    mentions = local_frame(
        spark, [(f"c{i}", s) for i, (s, _) in enumerate(pairs)],
        "chunk_id string, entity_id string",
    )
    return names, pairs, nodes, edges, mentions


def _driver_outputs(spark):
    from graph_rag_agent_spark.operators.canonicalize import canonicalize
    from graph_rag_agent_spark.operators.communities import (
        detect_communities,
        overlapping_label_propagation,
    )
    from graph_rag_agent_spark.operators.connected_components import connected_components
    from graph_rag_agent_spark.operators.embeddings import embed_entities
    from graph_rag_agent_spark.operators.graph_metrics import k_core
    from graph_rag_agent_spark.operators.pagerank import pagerank

    names, pairs, nodes, edges, mentions = _graph(spark)
    canon = canonicalize(nodes, edges, mentions, embed_entities(nodes), cutoff=0.8)
    verts = local_frame(spark, [(n,) for n in names], "id string")
    simple = local_frame(spark, pairs, "src string, dst string")
    wedges = local_frame(spark, [(s, d, 1.0) for s, d in pairs], "s string, d string, weight double")
    return {
        "canonical_map": canon.canonical_map,
        "similar": canon.similar,
        "wcc": canon.wcc,
        "connected_components": connected_components(verts, simple),
        "pagerank": pagerank(verts, simple),
        "detect_communities": detect_communities(nodes, edges),
        "sllpa": overlapping_label_propagation(verts, wedges),
        "k_core": k_core(edges),
    }


def test_driver_paths_build_no_parallelized_rows(spark):
    outputs = _driver_outputs(spark)
    assert outputs["canonical_map"].count() > 0 and outputs["similar"].count() > 0
    for name, df in outputs.items():
        df.collect()
        assert "ExistingRDD" not in _plan(df), (name, _plan(df))

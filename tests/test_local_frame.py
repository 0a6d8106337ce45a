"""Rows between the driver and Spark: ``session.local_frame`` round-trips
typed rows as an Arrow LocalTableScan at any size and is the only place the
package or the entry file calls ``createDataFrame``;
``session.collect_if_fits`` is the one bounded Arrow fetch behind every
driver-kernel size gate."""

import inspect
import logging
import math
import pathlib
import re

import pytest

from graph_rag_agent_spark import session
from graph_rag_agent_spark.session import collect_if_fits, local_frame

PACKAGE = pathlib.Path(session.__file__).parent
ENTRY = PACKAGE.parent / "__spark_entry__.py"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_create_dataframe_only_inside_local_frame():
    calls = {
        p: p.read_text().count("createDataFrame(")
        for p in [*PACKAGE.rglob("*.py"), ENTRY]
    }
    assert {p.name for p, n in calls.items() if n} == {"session.py"}
    assert calls[PACKAGE / "session.py"] == inspect.getsource(local_frame).count(
        "createDataFrame("
    )


def test_size_gates_only_through_collect_if_fits():
    """Every driver-vs-distributed probe is one ``collect_if_fits`` call:
    no ``take(`` and no ``limit(...).count()`` probe anywhere else."""
    sources = {p: p.read_text() for p in PACKAGE.rglob("*.py")}
    to_arrow = {p.name for p, src in sources.items() if ".toArrow(" in src}
    assert to_arrow == {"session.py"}
    assert sources[PACKAGE / "session.py"].count(".toArrow(") == inspect.getsource(
        collect_if_fits
    ).count(".toArrow(")
    limit_count = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*\)\s*\.count\(\)")
    for p, src in sources.items():
        assert ".take(" not in src, p
        assert not limit_count.search(src), (p, limit_count.search(src))


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


def _gate_records(caplog):
    return [
        r for r in caplog.records
        if r.name == session.__name__ and r.getMessage().startswith("collect_if_fits")
    ]


@pytest.mark.parametrize("n_rows, fits", [(5, True), (6, False)])
def test_collect_if_fits_bound(spark, caplog, n_rows, fits):
    df = spark.range(n_rows).selectExpr("cast(id as string) as id")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        table = collect_if_fits(df, 5, "probe test")
    if fits:
        assert table.column("id").to_pylist() == [str(i) for i in range(n_rows)]
    else:
        assert table is None
    (record,) = _gate_records(caplog)
    assert record.levelno == logging.INFO
    msg = record.getMessage()
    assert f"probe test {n_rows} rows (max 5)" in msg
    assert msg.endswith("driver" if fits else "distributed")


def test_collect_if_fits_empty_frame_is_a_table(spark, caplog):
    from pyspark.sql.pandas.types import to_arrow_schema

    df = local_frame(spark, [], "id string, embedding array<double>")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        table = collect_if_fits(df, 0, "empty")
    assert table is not None and table.num_rows == 0
    assert table.schema == to_arrow_schema(df.schema)
    (record,) = _gate_records(caplog)
    assert "empty 0 rows (max 0)" in record.getMessage()


def test_collect_if_fits_round_trips_nan_and_nulls(spark):
    rows = [("a", [1.5, float("nan")]), (None, [float("nan")]), ("c", None), ("d", [])]
    df = local_frame(spark, rows, "id string, embedding array<double>")
    table = collect_if_fits(df, len(rows), "nan and nulls")
    got = sorted(
        zip(table.column("id").to_pylist(), table.column("embedding").to_pylist()),
        key=lambda r: (r[0] is None, r[0] or ""),
    )
    want = sorted(rows, key=lambda r: (r[0] is None, r[0] or ""))
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, g), (_, w) in zip(got, want):
        assert (g is None) == (w is None)
        if w is not None:
            assert len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _edgeless_outputs(spark, threshold):
    """All seven size-gated kernels on 3 isolated vertices and no edges;
    ``threshold`` None runs each at its default (driver) bound."""
    from graph_rag_agent_spark.operators.canonicalize import canonicalize
    from graph_rag_agent_spark.operators.communities import (
        detect_communities,
        overlapping_label_propagation,
    )
    from graph_rag_agent_spark.operators.connected_components import connected_components
    from graph_rag_agent_spark.operators.embeddings import embed_entities
    from graph_rag_agent_spark.operators.graph_metrics import k_core
    from graph_rag_agent_spark.operators.pagerank import pagerank
    from graph_rag_agent_spark.operators.search import seed_hop_distance

    def t(name):
        return {} if threshold is None else {name: threshold}

    names = ["Alpha", "Bravo", "Charlie"]
    nodes = local_frame(
        spark, [(n, "class", f"class {n}") for n in names],
        "entity_id string, entity_type string, description string",
    )
    edges = local_frame(
        spark, [],
        "subj string, pred string, obj string, description string, weight double, "
        "chunk_id string",
    )
    mentions = local_frame(spark, [], "chunk_id string, entity_id string")
    verts = local_frame(spark, [(n,) for n in names], "id string")
    simple = local_frame(spark, [], "src string, dst string")
    wedges = local_frame(spark, [], "s string, d string, weight double")
    seeds = local_frame(spark, [("Alpha",)], "entity_id string")

    canon = canonicalize(
        nodes, edges, mentions, embed_entities(nodes), **t("driver_threshold_entities")
    )
    ranks = pagerank(verts, simple, **t("driver_threshold"))
    return {
        "canonical_map": _rows(canon.canonical_map),
        "canonical_nodes": _rows(canon.nodes),
        "canonical_edges": _rows(canon.edges),
        "detect_communities": _rows(
            detect_communities(nodes, edges, **t("driver_threshold_edges"))
        ),
        "sllpa": _rows(overlapping_label_propagation(verts, wedges, **t("driver_threshold"))),
        "connected_components": _rows(
            connected_components(verts, simple, **t("driver_threshold"))
        ),
        "pagerank": [(i, round(r, 12)) for i, r in _rows(ranks)],
        "seed_hop_distance": _rows(seed_hop_distance(wedges, seeds, **t("driver_threshold"))),
        "k_core": _rows(k_core(edges, **t("driver_threshold"))),
    }


def test_edgeless_graph_same_on_both_paths(spark):
    """An empty edge frame fetches as a 0-row table, which is falsy; every
    gate must still take its driver path and agree with the distributed
    one."""
    from graph_rag_agent_spark.operators import pagerank as prmod

    driver = _edgeless_outputs(spark, None)
    assert prmod.LAST_PATH == "driver"
    distributed = _edgeless_outputs(spark, 0)
    assert prmod.LAST_PATH == "distributed"
    assert driver == distributed
    assert driver["connected_components"] == [(n, n) for n in ("Alpha", "Bravo", "Charlie")]
    assert driver["seed_hop_distance"] == [("Alpha", 0)]
    assert driver["k_core"] == [] and driver["canonical_map"] == []

"""PageRank operator: closed-form, mass-conservation, dangling, and
personalization semantics, plus numpy power-iteration parity on a random
graph (the same shared-kernel strategy the Leiden/CC suites use)."""

import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_rag_agent_spark.operators.pagerank import pagerank, pagerank_projection
from helpers import logged_loops

PAGERANK_LOG = "graph_rag_agent_spark.operators.pagerank"


def _ranks(df):
    return {r["id"]: r["pagerank"] for r in df.collect()}


def test_uniform_on_regular_graph(spark):
    # undirected 4-cycle (symmetrized): every vertex identical → rank 1/4
    edges = [(a, b) for a, b in [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in "abcd"], "id string")
    out = _ranks(pagerank(v, e, n_iter=10))
    for x in "abcd":
        assert out[x] == pytest.approx(0.25, abs=1e-12)
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)


def test_dangling_mass_conserved(spark):
    # b and c have no out-edges: their mass must be redistributed, total = 1
    e = spark.createDataFrame([("a", "b"), ("a", "c")], "src string, dst string")
    v = spark.createDataFrame([(x,) for x in "abc"], "id string")
    out = _ranks(pagerank(v, e, n_iter=20))
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)
    # b and c are symmetric targets of a's only edges
    assert out["b"] == pytest.approx(out["c"], abs=1e-12)
    assert out["b"] > out["a"]


def test_numpy_power_iteration_parity(spark):
    rng = np.random.default_rng(7)
    n = 30
    rows = []
    for _ in range(150):
        s, d = rng.integers(0, n, 2)
        if s != d:
            rows.append((f"v{s:02d}", f"v{d:02d}", float(rng.integers(1, 5))))
    e = spark.createDataFrame(rows, "src string, dst string, w double")
    v = spark.createDataFrame([(f"v{i:02d}",) for i in range(n)], "id string")
    # driver_threshold=0 forces the DISTRIBUTED loop — this test is the
    # distributed path's parity gate against independent numpy power iteration
    got = _ranks(pagerank(v, e, n_iter=8, weight_col="w", driver_threshold=0))

    ids = sorted({f"v{i:02d}" for i in range(n)})
    idx = {x: i for i, x in enumerate(ids)}
    W = np.zeros((n, n))
    for s, d, w in rows:
        W[idx[s], idx[d]] += w
    outw = W.sum(axis=1)
    P = np.divide(W, outw[:, None], out=np.zeros_like(W), where=outw[:, None] > 0)
    r = np.full(n, 1.0 / n)
    d_ = 0.85
    for _ in range(8):
        dangling = r[outw == 0].sum()
        r = (1 - d_) / n + d_ * dangling / n + d_ * (P.T @ r)
    for x in ids:
        assert got[x] == pytest.approx(r[idx[x]], abs=1e-9)


def test_personalized_localizes_to_seeds(spark):
    # two triangles joined by one bridge edge; teleport to the left triangle
    left = [("a", "b"), ("b", "c"), ("c", "a")]
    right = [("x", "y"), ("y", "z"), ("z", "x")]
    bridge = [("c", "x")]
    und = left + right + bridge
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, "src string, dst string")
    v = spark.createDataFrame([(q,) for q in "abcxyz"], "id string")
    seeds = spark.createDataFrame([("a",), ("b",)], "id string")
    out = _ranks(pagerank(v, e, n_iter=15, reset=seeds))
    assert min(out[q] for q in "abc") > max(out[q] for q in "xyz")
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)


def test_driver_and_distributed_paths_agree(spark, caplog):
    # same random weighted digraph through BOTH paths — identical ranks
    rng = np.random.default_rng(11)
    n = 20
    rows = []
    for _ in range(80):
        s, d = rng.integers(0, n, 2)
        if s != d:
            rows.append((f"u{s:02d}", f"u{d:02d}", float(rng.integers(1, 4))))
    e = spark.createDataFrame(rows, "src string, dst string, w double")
    v = spark.createDataFrame([(f"u{i:02d}",) for i in range(n)], "id string")
    seeds = spark.createDataFrame([("u00",), ("u01",)], "id string")
    for reset in (None, seeds):
        with caplog.at_level(logging.INFO, logger=PAGERANK_LOG):
            drv = _ranks(pagerank(v, e, n_iter=5, weight_col="w", reset=reset))
            assert logged_loops(caplog, "pagerank")[-1][0] == "driver"
            dist = _ranks(
                pagerank(v, e, n_iter=5, weight_col="w", reset=reset, driver_threshold=0)
            )
            assert logged_loops(caplog, "pagerank")[-1][0] == "distributed"
        for k in drv:
            assert drv[k] == pytest.approx(dist[k], abs=1e-12)


def test_warm_start_converges_faster_after_delta(spark, caplog):
    # incremental pipeline: yesterday's ranks warm-start today's run after
    # a small graph delta → fewer tol-mode sweeps than a cold start, and
    # both converge to the same fixpoint (unique regardless of init)
    rng = np.random.default_rng(3)
    n = 60
    base_edges = []
    for _ in range(240):
        s, d = rng.integers(0, n, 2)
        if s != d:
            base_edges.append((f"w{s:02d}", f"w{d:02d}"))
    v = spark.createDataFrame([(f"w{i:02d}",) for i in range(n)], "id string")
    e0 = spark.createDataFrame(base_edges, "src string, dst string")
    prev = pagerank(v, e0, n_iter=60, tol=1e-10)

    delta_edges = base_edges + [("w00", "w59"), ("w07", "w41")]
    e1 = spark.createDataFrame(delta_edges, "src string, dst string")
    with caplog.at_level(logging.INFO, logger=PAGERANK_LOG):
        cold = _ranks(pagerank(v, e1, n_iter=60, tol=1e-10))
        cold_iters = logged_loops(caplog, "pagerank")[-1][1]
        warm = _ranks(pagerank(v, e1, n_iter=60, tol=1e-10, initial_ranks=prev))
        warm_iters = logged_loops(caplog, "pagerank")[-1][1]
    assert warm_iters < cold_iters
    for k in cold:
        assert warm[k] == pytest.approx(cold[k], abs=1e-8)


def test_personalized_requires_real_seed(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    v = spark.createDataFrame([("a",), ("b",)], "id string")
    ghost = spark.createDataFrame([("zz",)], "id string")
    with pytest.raises(ValueError):
        pagerank(v, e, reset=ghost)


def test_projection_wrapper_scope_and_rounding(spark):
    proj = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0)], "s string, d string, weight double"
    )
    out = pagerank_projection(proj, n_iter=5)
    rows = {r["entity_id"]: r["pagerank"] for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert sum(rows.values()) == pytest.approx(1.0, abs=1e-5)
    # heavier-weighted neighbor pulls rank: b is on both edges → max
    assert rows["b"] == max(rows.values())
    for val in rows.values():  # round-6 contract
        assert val == round(val, 6)

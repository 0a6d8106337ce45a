"""incremental_communities: scoped re-detection ≡ full re-detection for a
component-local deterministic detector (SLLPA), plus retention/GC semantics.

The reference re-runs community detection over the whole graph on every
incremental build (integrations/build/incremental_update.py:208-246); the
scoped operator re-detects only the components the edge delta touched and
must keep every other component's membership byte-identical.
"""

import random

from pyspark.sql import functions as F

from graph_rag_agent_spark.operators import communities as C


def _wedges(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b), float(w)) for a, b, w in pairs],
        "s string, d string, weight double",
    )


def _detect(v, e):
    return C.overlapping_label_propagation(v, e, max_iter=3, min_association=0.2)


class _Recording:
    """`_detect` that records the vertex set of every call, so a test can
    assert which components the delta re-detected."""

    def __init__(self):
        self.scopes = []

    def __call__(self, v, e):
        self.scopes.append({r.id for r in v.collect()})
        return _detect(v, e)


def _verts(spark, edges_df):
    return (
        edges_df.select(F.col("s").alias("id"))
        .unionByName(edges_df.select(F.col("d").alias("id")))
        .distinct()
    )


def _rows(df):
    return {tuple(r) for r in df.select("id", "label", "strength").collect()}


TRI_A = [("a1", "a2", 1.0), ("a2", "a3", 1.0), ("a1", "a3", 1.0)]
TRI_B = [("b1", "b2", 1.0), ("b2", "b3", 1.0), ("b1", "b3", 1.0)]


def test_scoped_equals_full_and_retains_untouched(spark):
    old = _wedges(spark, TRI_A + TRI_B)
    # delta grows component B by a new vertex; component A is untouched
    new = _wedges(spark, TRI_A + TRI_B + [("b1", "b4", 1.0), ("b2", "b4", 1.0)])

    old_memb = _detect(_verts(spark, old), old).localCheckpoint(eager=True)
    detect = _Recording()
    inc = C.incremental_communities(old, new, old_memb, detect)
    inc_rows = _rows(inc)

    # the theorem: scoped incremental == full re-detection, row-identical
    full_rows = _rows(_detect(_verts(spark, new), new))
    assert inc_rows == full_rows

    # untouched component A keeps its OLD rows verbatim
    old_a = {t for t in _rows(old_memb) if t[0].startswith("a")}
    inc_a = {t for t in inc_rows if t[0].startswith("a")}
    assert inc_a == old_a and old_a

    # and the delta actually scoped the re-detection to component B
    assert detect.scopes == [{"b1", "b2", "b3", "b4"}]
    # rows, not a set: a fan-out that duplicated retained rows fails here
    retained = inc.filter(~F.col("id").isin(*detect.scopes[0]))
    assert retained.count() == len(old_a)


def test_vertex_losing_every_edge_drops_out(spark):
    old = _wedges(spark, TRI_A + [("a3", "a4", 1.0)])
    new = _wedges(spark, TRI_A)  # a4's only edge deleted
    old_memb = _detect(_verts(spark, old), old)
    inc = C.incremental_communities(old, new, old_memb, _detect)
    ids = {r["id"] for r in inc.select("id").distinct().collect()}
    assert "a4" not in ids and ids == {"a1", "a2", "a3"}
    # still equal to full detection over the new graph
    assert _rows(inc) == _rows(_detect(_verts(spark, new), new))


def test_weight_change_refreshes_its_component(spark):
    old = _wedges(spark, TRI_A + TRI_B)
    new = _wedges(spark, TRI_A + [("b1", "b2", 5.0)] + TRI_B[1:])
    old_memb = _detect(_verts(spark, old), old)
    detect = _Recording()
    inc = C.incremental_communities(old, new, old_memb, detect)
    assert detect.scopes == [{"b1", "b2", "b3"}]
    assert _rows(inc) == _rows(_detect(_verts(spark, new), new))


def test_random_graph_scoped_equals_full(spark):
    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(24)]
    pool = sorted(
        {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.08}
    )
    old_pairs = [(a, b, rng.choice([1.0, 2.0])) for a, b in pool]
    # delta: drop two edges, add two, reweight one
    new_pairs = old_pairs[2:]
    new_pairs[0] = (new_pairs[0][0], new_pairs[0][1], 9.0)
    new_pairs += [("n00", "n23", 1.0), ("n05", "n17", 1.0)]

    old = _wedges(spark, old_pairs)
    new = _wedges(spark, new_pairs)
    old_memb = _detect(_verts(spark, old), old)
    inc = C.incremental_communities(old, new, old_memb, _detect)
    assert _rows(inc) == _rows(_detect(_verts(spark, new), new))


# ---- content-addressed summary reuse (G9 × S8) -----------------------------


def _Summarizer(tag, version):
    """Named summarizer with an explicit version and a distinguishable tag —
    run-2 deliberately returns a different string under the SAME version so
    the test can observe which rows were recomputed vs reused. The class is
    defined inside this factory so cloudpickle serializes it BY VALUE (a
    module-level test class pickles by reference, and Spark workers cannot
    import the test module)."""

    class S:
        def __init__(self, tag, version):
            self.tag = tag
            self.version = version

        def __call__(self, fc):
            return f"{self.tag}:{len(fc)}"

    return S(tag, version)


def _summary_fixture(spark, b2_type="class"):
    membership = spark.createDataFrame(
        [("0-0", 0, "a1"), ("0-0", 0, "a2"), ("0-1", 0, "b1"), ("0-1", 0, "b2")],
        "community_id string, level int, member_id string",
    )
    nodes = spark.createDataFrame(
        [("a1", "class", "a1"), ("a2", "class", "a2"),
         ("b1", "class", "b1"), ("b2", b2_type, "b2")],
        "entity_id string, entity_type string, description string",
    )
    edges = spark.createDataFrame(
        [("a1", "r", "a2", "d", 1.0, "c1"), ("b1", "r", "b2", "d", 1.0, "c2")],
        "subj string, pred string, obj string, description string, weight double, chunk_id string",
    )
    rank = spark.createDataFrame(
        [("0-0", 0, 2), ("0-1", 0, 1)], "community_id string, level int, rank bigint"
    )
    return membership, nodes, edges, rank


def test_summary_reuse_recomputes_only_changed_content(spark):
    m, n, e, r = _summary_fixture(spark)
    run1 = C.summarize_communities(
        m, n, e, r, summarizer=_Summarizer("S1", "sum-v1")
    ).localCheckpoint(eager=True)
    assert all(row.summary.startswith("S1:") for row in run1.collect())

    # delta changes community 0-1's stringified info; 0-0 is untouched
    m2, n2, e2, r2 = _summary_fixture(spark, b2_type="module")
    run2 = {
        row.community_id: row.summary
        for row in C.summarize_communities(
            m2, n2, e2, r2, summarizer=_Summarizer("S2", "sum-v1"), prior=run1
        ).collect()
    }
    assert run2["0-0"].startswith("S1:")  # reused — summarizer not re-invoked
    assert run2["0-1"].startswith("S2:")  # recomputed — content changed


def test_summary_reuse_invalidated_by_summarizer_version(spark):
    m, n, e, r = _summary_fixture(spark)
    run1 = C.summarize_communities(
        m, n, e, r, summarizer=_Summarizer("S1", "sum-v1")
    ).localCheckpoint(eager=True)
    run2 = C.summarize_communities(
        m, n, e, r, summarizer=_Summarizer("S3", "sum-v2"), prior=run1
    ).collect()
    assert all(row.summary.startswith("S3:") for row in run2)


def test_summary_reuse_rejects_lambda_but_allows_it_without_prior(spark):
    import pytest

    m, n, e, r = _summary_fixture(spark)
    plain = C.summarize_communities(m, n, e, r, summarizer=lambda fc: "x").collect()
    assert all(row.summary == "x" for row in plain)
    run1 = C.summarize_communities(
        m, n, e, r, summarizer=_Summarizer("S1", "sum-v1")
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="fingerprint"):
        C.summarize_communities(
            m, n, e, r, summarizer=lambda fc: "y", prior=run1
        )


def test_summary_reuse_skips_legacy_prior_without_fingerprint(spark):
    m, n, e, r = _summary_fixture(spark)
    legacy = C.summarize_communities(
        m, n, e, r, summarizer=_Summarizer("S1", "sum-v1")
    ).drop("summarizer_v").localCheckpoint(eager=True)
    run2 = C.summarize_communities(
        m, n, e, r, summarizer=_Summarizer("S2", "sum-v1"), prior=legacy
    ).collect()
    assert all(row.summary.startswith("S2:") for row in run2)


def test_plan_pagerank_warm_start_reaches_cold_fixpoint(spark, caplog):
    """Plan wiring: the incremental run's PageRank stage warm-starts from
    the prior rank table and reaches the same fixpoint as a cold full
    rebuild of the new corpus, in no more sweeps; its communities equal the
    rebuild's."""
    import logging
    import tempfile

    from graph_rag_agent_spark.functions.extractor import (
        KeywordCooccurrenceExtractor,
    )
    from graph_rag_agent_spark.plans.build import BuildPipeline
    from graph_rag_agent_spark.plans.incremental_update import (
        IncrementalUpdatePipeline,
    )
    from graph_rag_agent_spark.sources.catalog import TableCatalog
    from helpers import logged_loops

    schema = "repo string, path string, commit string, lang string, content string"
    # corpus with DISJOINT per-group vocabularies (each group draws words
    # from its own 3-letter alphabet → no shared trigrams, no cross-group
    # co-occurrence, no canonicalization merges): one connected component
    # per group
    import pandas as pd

    alphabets = ["abc", "def", "ghi", "jkl", "mno", "pqr"]
    rows = []
    for g, al in enumerate(alphabets):
        a, b, c = al
        # pairwise-disjoint trigram sets + large edit distances → the
        # canonicalizer finds NO similar pairs, within or across groups
        words = [a * 7, b * 7, c * 7, (a + b) * 3 + a]
        for d in range(3):
            text = " ".join(words[d:] + words[:d])
            rows.append((f"grp{g}", f"doc{d}.py", f"c{g}{d}", "py", text))
    base = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    v2 = base.iloc[1:].copy()  # drop ONE group-0 doc

    with tempfile.TemporaryDirectory(prefix="graft_incr_") as wh1, \
         tempfile.TemporaryDirectory(prefix="graft_full_") as wh2, \
         caplog.at_level(logging.INFO, logger="graph_rag_agent_spark.operators.pagerank"):
        cat1 = TableCatalog(spark, wh1)
        ex = KeywordCooccurrenceExtractor()
        BuildPipeline(spark, cat1, extractor=ex).run(
            spark.createDataFrame(base, schema=schema)
        )
        res = IncrementalUpdatePipeline(spark, cat1, extractor=ex).run_once(
            spark.createDataFrame(v2, schema=schema)
        )
        assert res["changed"]
        # warm start: prior table existed → fewer sweeps, same fixpoint
        warm_iters = logged_loops(caplog, "pagerank")[-1][1]
        incr_ranks = {
            r.entity_id: r.pagerank for r in cat1.read("entity_pagerank").collect()
        }

        cat2 = TableCatalog(spark, wh2)
        BuildPipeline(spark, cat2, extractor=ex).run(
            spark.createDataFrame(v2, schema=schema)
        )
        cold_iters = logged_loops(caplog, "pagerank")[-1][1]
        full_ranks = {
            r.entity_id: r.pagerank for r in cat2.read("entity_pagerank").collect()
        }
        assert set(cat1.read("communities").collect()) == set(
            cat2.read("communities").collect()
        )
        # identical fixpoint (tol-mode, rounded to 6)
        assert set(incr_ranks) == set(full_ranks)
        for k in incr_ranks:
            assert abs(incr_ranks[k] - full_ranks[k]) < 2e-6
        assert warm_iters <= cold_iters

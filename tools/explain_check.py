"""Plan-quality gate: asserts the physical plans of key queries have the
properties a 100 TB deployment needs — filter pushdown into the parquet
scan, column pruning (ReadSchema smaller than the table), broadcast joins
for small dimensions, and whole-stage codegen coverage.

Usage: python tools/explain_check.py [sf_dir]    (exit 1 on any violation)
"""

from __future__ import annotations

import sys
from pathlib import Path

# this checkout's code, not whichever copy is installed or on PYTHONPATH
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from graph_rag_agent_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-check", master="local[8]", shuffle_partitions=8)
    failures = []

    # 1. filter pushdown + column pruning on a filtered projection
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    q1 = docs.filter(F.col("lang") == "en").select("doc_id", F.length("text").alias("n"))
    p1 = plan_of(q1)
    if "lang" not in p1.split("DataFilters")[1][:200] if "DataFilters" in p1 else True:
        failures.append("q1: lang filter not pushed to scan")
    scan_line = next((l for l in p1.splitlines() if "FileScan" in l), "")
    if "source" in scan_line.split("ReadSchema")[-1] if "ReadSchema" in scan_line else False:
        failures.append("q1: unused column 'source' read from parquet")
    for col in ("source", "n_chars"):
        if f"{col}#" in scan_line.split("FileScan parquet [")[-1].split("]")[0]:
            failures.append(f"q1: unused column '{col}' not pruned")

    # 2. dimension joins go broadcast (no shuffle of the fact table per dim)
    p2 = plan_of(entry_mod.queries()["regional_revenue"](spark, sf))
    if p2.count("BroadcastHashJoin") < 3:
        failures.append("regional_revenue: expected 3 broadcast joins, plan:\n" + p2[:800])
    if "SortMergeJoin" in p2:
        failures.append("regional_revenue: unexpected sort-merge join")

    # 3. whole-stage codegen present in the aggregation query (execute first
    # so AQE finalizes the plan — codegen spans only exist in the final plan)
    q3 = entry_mod.queries()["tpch_q1"](spark, sf)
    q3.collect()  # count() would spawn a separate query execution; collect
    p3 = plan_of(q3)  # finalizes THIS frame's AQE plan
    # codegen spans render as "*(n) Operator" in the final AQE plan
    if "WholeStageCodegen" not in p3 and "*(" not in p3:
        failures.append("tpch_q1: no whole-stage codegen spans")
    if "isFinalPlan=true" not in p3:
        failures.append("tpch_q1: AQE plan did not finalize")
    if "PushedFilters" in p3 or "DataFilters" in p3:
        if "l_shipdate" not in p3:
            failures.append("tpch_q1: shipdate filter not pushed")

    # 4. text-analysis queries stay fully JVM-side (no Python eval nodes)
    for name in ("token_counts", "quality_scores", "language_id", "fingerprints"):
        p = plan_of(entry_mod.queries()[name](spark, sf))
        if "BatchEvalPython" in p or "ArrowEvalPython" in p:
            failures.append(f"{name}: Python UDF in the plan — should be pure SQL exprs")

    # 5. scale-shape: the near-dup / knn paths must never plan a quadratic
    # join (cartesian or nested-loop) — the round-1 weak spots. (ann_topk is
    # exempt: its crossJoin broadcasts exactly ONE query row by design.)
    for name in ("jaccard_pairs", "knn_per_label", "minhash_lsh_pairs"):
        p = plan_of(entry_mod.queries()[name](spark, sf))
        if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p:
            failures.append(f"{name}: quadratic join in the plan")

    # 6. jaccard candidate generation joins on prefix tokens, not on the
    # low-cardinality (lang, length-bucket) block key alone
    pj = plan_of(entry_mod.queries()["jaccard_pairs"](spark, sf))
    if "SortMergeJoin" not in pj and "ShuffledHashJoin" not in pj and "BroadcastHashJoin" not in pj:
        failures.append("jaccard_pairs: no hash/merge join found (unexpected plan shape)")

    # 7. dense-id assignment must never plan a single-partition exchange
    # (the round-2 unpartitioned dense_rank funneled every distinct
    # component/community through ONE task) — executed plan, AQE-final
    from graph_rag_agent_spark.operators.connected_components import (
        connected_components,
        consecutive_component_ids,
    )

    verts = spark.range(0, 5000).select(F.col("id").cast("string").alias("id"))
    cc_edges = spark.range(0, 2500).select(
        (F.col("id") * 2).cast("string").alias("src"),
        (F.col("id") * 2 + 1).cast("string").alias("dst"),
    )
    dense = consecutive_component_ids(connected_components(verts, cc_edges))
    dense.collect()  # finalize AQE before reading the executed plan
    p7 = plan_of(dense)
    if "Exchange SinglePartition" in p7:
        failures.append("consecutive_component_ids: single-partition exchange in plan")
    if "dense_rank" in p7:
        failures.append("consecutive_component_ids: unpartitioned dense_rank survived")

    # 8. production simhash is a pure map — no shuffle anywhere in its plan
    # (the SQL twin's 64x row explosion + two groupBys is oracle-only)
    p8 = plan_of(entry_mod.queries()["simhash_signatures"](spark, sf))
    if "Exchange" in p8:
        failures.append("simhash_signatures: shuffle in the production path plan")

    # 9. repetition signals are computed inside the row (sorted-array run
    # counting) — no (doc, ngram) explode/shuffle may appear in the plan.
    # The one allowed Exchange is the entry's spread read of the
    # single-row-group documents file (`_docs(spread=True)`, measured 2x
    # faster than the one-task scan for this query at sf0.1)
    p9 = plan_of(entry_mod.queries()["repetition_scores"](spark, sf))
    exch9 = [l for l in p9.splitlines() if "Exchange" in l]
    spread9 = [l for l in exch9 if "hashpartitioning(doc_id#" in l
               and "REPARTITION_BY_NUM" in l]
    if len(exch9) > len(spread9[:1]):
        failures.append("repetition_scores: shuffle in a map-only plan")
    if "Generate" in p9:
        failures.append("repetition_scores: explode leaked into the plan")

    # 10. PII redaction is a map-only projection of JVM regexp exprs — no
    # shuffle and no Python in the plan
    p10 = plan_of(entry_mod.queries()["pii_redaction"](spark, sf))
    if "Exchange" in p10:
        failures.append("pii_redaction: shuffle in a map-only plan")
    if "Python" in p10 or "ArrowEval" in p10:
        failures.append("pii_redaction: Python UDF in the plan")

    # 11. triangle counting must never degrade to a cartesian/nested-loop
    # product — every join is an equi hash/merge join on wedge keys
    p11 = plan_of(entry_mod.queries()["triangle_counts"](spark, sf))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in p11:
            failures.append(f"triangle_counts: {bad} in the plan")

    # 12. exact-substring dedup: shingle generation and span assembly are
    # pure SQL (no Python eval), and the site/ownership re-join is an equi
    # join — never a quadratic product
    # (the queries() entry is memo-checkpointed, which would hide the plan —
    # gate the frame the query checkpoints: its window, xxhash64 keys)
    from graph_rag_agent_spark.operators.dedup import duplicate_spans

    p12 = plan_of(duplicate_spans(
        entry_mod._docs(spark, sf), window=entry_mod._SPAN_WINDOW, production_hash=True
    ))
    if "BatchEvalPython" in p12 or "ArrowEvalPython" in p12:
        failures.append("duplicate_spans: Python UDF in the plan")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in p12:
            failures.append(f"duplicate_spans: {bad} in the plan")

    # 13. semantic dedup: exactly ONE exchange (the cluster groupBy) — the
    # centroid assignment is a map-only mapInPandas, never a join/explosion,
    # and no quadratic product anywhere
    p13 = plan_of(entry_mod.queries()["semantic_dedup"](spark, sf))
    n_exch = p13.count("Exchange")
    if n_exch > 1:
        failures.append(
            f"semantic_dedup: {n_exch} exchanges in the plan (assignment must be map-only)"
        )
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in p13:
            failures.append(f"semantic_dedup: {bad} in the plan")

    # 14. pagerank: every per-iteration join is an equi hash/merge join
    # over the checkpointed rank/edge frames — no quadratic product, no
    # Python eval, and the normalized edge table enters as a checkpointed
    # RDD scan (normalized ONCE, not re-derived per iteration)
    from graph_rag_agent_spark.operators.pagerank import pagerank

    pr_verts = spark.range(0, 1000).select(F.col("id").cast("string").alias("id"))
    pr_edges = spark.range(0, 3000).select(
        (F.col("id") % 1000).cast("string").alias("src"),
        ((F.col("id") * 7 + 1) % 1000).cast("string").alias("dst"),
    )
    p14 = plan_of(pagerank(pr_verts, pr_edges, n_iter=2, driver_threshold=0))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
                "ArrowEvalPython"):
        if bad in p14:
            failures.append(f"pagerank: {bad} in the iteration plan")
    if "Scan ExistingRDD" not in p14:
        failures.append("pagerank: iteration inputs are not checkpointed RDD scans")

    # 15. retrieval metrics: the rule arithmetic is array higher-order
    # functions over in-row arrays — no Python eval, no quadratic join
    for name in ("retrieval_eval", "chunk_utilization", "answer_eval",
                 "reasoning_eval", "agent_eval"):
        p15 = plan_of(entry_mod.queries()[name](spark, sf))
        for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                    "BroadcastNestedLoopJoin"):
            if bad in p15:
                failures.append(f"{name}: {bad} in the plan")

    # 16. sequence packing: one keyed window sort (one Exchange), the span
    # explode is row-local — no Python eval, no product joins
    p16 = plan_of(entry_mod.queries()["sequence_manifest"](spark, sf))
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        if bad in p16:
            failures.append(f"sequence_manifest: {bad} in the plan")
    n16 = p16.count("Exchange")
    if n16 > 1:
        failures.append(
            f"sequence_manifest: {n16} Exchanges (expected 1: the window keys)"
        )
    if "Exchange SinglePartition" in p16:
        failures.append("sequence_manifest: global single-partition exchange")

    # 17. local-search context assembly: the section fan-out must stay on
    # partition-keyed aggregates — no partition-less Window, no Python eval
    p17 = plan_of(entry_mod.queries()["local_search_context"](spark, sf))
    for bad in ("BatchEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin", "Window ["):
        if bad in p17:
            failures.append(f"local_search_context: {bad} in the plan")

    # 18. temperature rebalancing: ONE corpus count shuffle; the rate
    # derivation runs in-row over the one-row gather of the |strata| counts
    # (regression: the chained-aggregate form re-scanned the corpus per
    # derived quantity — 23 exchanges, 7 nested-loop joins)
    p18 = plan_of(entry_mod.queries()["temperature_sample"](spark, sf))
    n18 = p18.count("Exchange")
    if n18 > 4:
        failures.append(
            f"temperature_sample: {n18} Exchanges (expected ≤4: corpus "
            "count, strata gather, broadcast)"
        )
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct",
                "BatchEvalPython", "ArrowEvalPython"):
        if bad in p18:
            failures.append(f"temperature_sample: {bad} in the plan")

    # 19. n-gram stats: one term-keyed two-phase aggregate; top-k must be
    # TakeOrderedAndProject (never a global sort), grams built row-locally
    p19 = plan_of(entry_mod.queries()["top_ngrams"](spark, sf))
    if "TakeOrderedAndProject" not in p19:
        failures.append("top_ngrams: top-k is not TakeOrderedAndProject")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        if bad in p19:
            failures.append(f"top_ngrams: {bad} in the plan")
    if p19.count("Exchange") > 2:
        failures.append(
            f"top_ngrams: {p19.count('Exchange')} Exchanges (expected 2)"
        )

    spark.stop()
    if failures:
        print("PLAN CHECK FAILURES:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("all plan checks passed")


if __name__ == "__main__":
    main()

"""graph_rag_agent_spark — a from-scratch PySpark-native knowledge-graph
construction pipeline with the capabilities of `1517005260/graph-rag-agent`.

The reference is an LLM-driven graph-ETL system over Neo4j; this package
re-expresses every one of its dataflow stages (chunk → extract → parse →
canonicalize → communities → summarize → incremental) as DataFrame /
Arrow-UDF pipelines over partitioned Iceberg/parquet tables. See SURVEY.md
for the operator-by-operator mapping.

Layout:
    config         — every build knob as a module constant (the operators' defaults)
    session        — SparkSession factory tuned for the pipeline
    functions/     — pure deterministic kernels (tokenizer, wire format, embedder, ...)
    sources/       — corpus generator, table catalog (Iceberg-or-parquet), registry
    operators/     — the pipeline stages + training-data ops (dedup, similarity, text analysis)
    plans/         — end-to-end build orchestration with lineage metrics
    streaming/     — streaming extraction, stateful dedup and windowed rollups
    oracle/        — pure-Python reference-faithful builder for P/R parity tests
"""

__version__ = "0.1.0"

"""runne_contrastive_ner_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the data-processing capabilities of the reference
``bond005/runne_contrastive_ner`` (nested NER over 29 RuNNE entity types),
re-expressed as Spark DataFrame operators and vectorized pandas/Arrow UDFs.

Layout
------
functions/   pure-Python + numpy kernels that run *inside* pandas UDFs
             (text normalization, sentenization, offset-exact tokenization,
             constrained greedy span decoding, span embeddings, pluggable scorer)
sources/     scans & sinks: RuNNE JSONL, TableIO (the snapshot-isolated
             Parquet table store both entry points share), N-Triples export, the REST recognizer, deterministic transcript
             derivation and synthesis
operators/   DataFrame-level operators: mention detection, entity linking,
             connected components, predicate induction, graph analytics,
             training-set assembly
plans/       staged batch build (run_pipeline) with per-stage manifests
             (lineage + metrics) and checkpointed resume
streaming/   tail ingest: incremental KG fold, analytics refresh, streaming
             mention scan (driven by jobs/run_streaming_pipeline.py)
oracle_sql   independent DuckDB formulations of the KG outputs, checked
             against the engine by tests/test_kg_oracles.py

Everything is DataFrame + pandas/Arrow UDFs: no RDDs, no per-row Python UDFs,
no custom Catalyst rules (see SURVEY.md §7.0).
"""

__version__ = "0.1.0"

"""executor_u1mindexer_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of jina-ai/executor-U1MIndexer.

The reference (/root/reference/executor.py) is a single-node Jina executor
wrapping hnswlib for top-k ANN over a vector column plus keyed maintenance
(upsert / update / delete / dump / clear / status) of the indexed table.
This package re-expresses that surface — and the LLM-data-pipeline operators
a 100 TB training-data pipeline needs (dedup, similarity search, multimodal
columns, text analysis) — as idiomatic Spark DataFrame programs:

- state is immutable Parquet-backed DataFrames, not an in-process mutable
  index (executor.py:49-62);
- KNN is exact, fully inside Catalyst (broadcast theta-join + higher-order
  array functions + window top-k) instead of approximate hnswlib
  (executor.py:112) — zero Python UDFs in the core;
- maintenance endpoints become relational builders (outer-join merge,
  semi/anti joins, scalar aggregates).

Subpackages:
  functions/  column-expression libraries (vector distances, text metrics)
  operators/  DataFrame → DataFrame operator builders (knn, maintenance,
              dedup, similarity, relational, events, multimodal)
  sources/    parquet/csv/json state IO (dump/load equivalents)
  plans/      plan inspection: the physical plan as node records for asserts
  streaming/  Structured Streaming variants of the event operators
"""

__version__ = "0.1.0"

"""convex_batch_processor_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of
blocknavi/convex-batch-processor (a Convex batch-accumulator + table-iterator
component, see /root/reference) on Apache Spark, plus the LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis) a
100 TB training-data pipeline needs.

Architecture (Spark-first, not a port):

- ``session``    — SparkSession builder tuned for local[32] tests and
                   documented for 1000-executor clusters.
- ``catalog``    — load the parquet star schema + register temp views.
- ``operators``  — relational primitives from SURVEY.md §2 (scans, filters,
                   joins, aggs, windows, set ops, top-k) as composable
                   DataFrame functions.
- ``streaming``  — the batch-accumulator subsystem: a flush state machine
                   on its own epoch log (timer/size/manual flushes,
                   snapshot-cutoff epochs, at-least-once + flush history).
- ``iterator``   — the table-iterator subsystem: chunked cursor scans with
                   pause/resume/cancel, retry + capped exponential backoff.
- ``llmops``     — dedup (exact/MinHash-LSH/SimHash/Jaccard/embedding),
                   similarity search (brute-force + LSH), text analysis,
                   multimodal column plumbing.
"""

__version__ = "0.1.0"

"""PySpark-native analytics engine with the capabilities of
aws-samples/amazon-kinesis-replay (reference read-only at /root/reference).

The reference is a batch-to-stream replay pipeline: read timestamped NDJSON
events from S3, re-order by event time, derive a simulated ingestion time
(affine speedup map), pace emission against the wall clock, and sink batched
records to Kinesis with retry (see SURVEY.md §2 for the operator inventory,
with file:line citations into the reference).

This package re-expresses that surface Spark-first:

- ``sources``   — NDJSON/parquet scans with codec auto-detect, path filtering,
                  malformed-row drop (OP-SRC-*, OP-PARSE-*).
- ``operators`` — batch relational form of every reference operator
                  (seek filter, ingestion-time derivation, event-time ordering,
                  batching, partition-key spread, window/rate statistics), plus
                  the large-scale training-data extensions (dedup, similarity
                  search, text analysis, multimodal plumbing).
- ``streaming`` — the inherently-streaming shell: Structured Streaming file
                  source -> watermark reorder -> foreachBatch pacing sink with
                  <=500-record batching and exponential-backoff retry
                  (OP-RATE-*, OP-SINK-*, OP-FLOW-*).
- ``functions`` — scalar helpers (ARN validation, JSON attribute extraction).
- ``plans``     — the named-query registry that backs ``__spark_entry__.py``.
"""

__version__ = "0.1.0"

# Unpickling any engine kernel on an executor imports this package first.
from .session import gate_worker_zip_invalidation  # noqa: E402

gate_worker_zip_invalidation()

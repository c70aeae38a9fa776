"""cdc_worker_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference CDC worker (bai-admin/cdc-worker).

The reference (see SURVEY.md) is a Salesforce change-data-capture pipeline:
gRPC Pub/Sub subscribe -> Avro decode against a dynamic schema registry ->
changed-field bitmap expansion -> replay-ID offset tracking -> per-key
latest-wins upsert. This package re-expresses that surface Spark-first:

- ``sources``    : batch/stream table loaders with replay-offset semantics
- ``functions``  : scalar packs + the CDC codecs (offset hex codec, changed-field
                   bitmap expansion) as native column expressions
- ``operators``  : the relational operator surface (scans, joins, aggregations,
                   windows, set ops) + LLM-data-pipeline extensions (dedup,
                   similarity search, text analysis, multimodal)
- ``plans``      : the query registry wiring every operator to its declared
                   query name and DuckDB oracle SQL (driver contract)
- ``streaming``  : Structured Streaming pipeline (foreachBatch latest-wins
                   merge, DLQ, checkpoint restart)
"""

__version__ = "0.1.0"

"""otel_kafka_pg_spark — a brand-new PySpark-native analytics engine with the
query and data-processing capabilities of the reference OTLP telemetry bridge
(seongpil0948/otel-kafka-pg), re-expressed Spark-first.

The reference (Go, ~5k LoC) is an OTLP ingest bridge: Kafka → protobuf decode
→ flatten → batch buffer → Postgres upsert, plus a read-side filter / search /
sort / paginate / aggregate / percentile query API. This package rebuilds the
same semantics as a batch parse → enrich → route → aggregate pipeline over
transcript tables, designed for 100 TB / multi-executor scale:

- ``sources``   — deterministic transcript/lookup synthesis + testdata loaders
- ``functions`` — parse UDFs (native regexp + vectorized pandas), attr-JSON
  canonicalization, text statistics, vector math
- ``operators`` — enrich (broadcast join), stable ordering, routing,
  aggregate/query library, dedup, similarity search
- ``plans``     — the end-to-end pipeline with checkpoint manifest + resume
- ``streaming`` — Structured Streaming variant of the ingest path

Everything here derives from public knowledge only: the Apache Spark / PySpark
API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"

"""The versioned request mix of the ``query`` workload.

A request-rate or latency figure is only comparable between runs of the
same mix, so any change to ``MIX`` must bump ``VERSION``. Entries are drawn
from every registry family: the REST read side (filters, pages, aggregates,
joins, windows), writes beside reads, result-cache reuse, and the text,
dedup, corpus-prep and similarity-search families. Every entry here has a
DuckDB oracle, which the output check compares against. The pipeline
family gives the read side a turns-routed rate. ``LAYER_PROBES`` run only
in the traced run.

Each request forces full execution with a ``noop`` write. Timing
``.count()`` instead lets Catalyst prune projections and whole
aggregates, which under-timed entries such as
``a7_service_metrics_percentiles`` and ``t1_text_profile`` by up to 8x
(sf0.1, 4 cores).
"""

from __future__ import annotations

import os

VERSION = "qmix-1"

MIX: dict[str, str] = {
    "f1_time_range": "filter",
    "f6_ilike_substring": "filter",
    "r1_request_lifecycle_page": "filter",
    "a1_service_counts": "aggregate",
    "a7_service_metrics_percentiles": "aggregate",
    "j1_left_join_group_count": "join",
    "aj1_asof_join": "join",
    "w3_sessionization": "window",
    "fn1_funnel_conversion": "behavior",
    "u2_merge_into": "write",
    "rd1_retention_delete": "write",
    "c3_cached_result_reuse": "cache",
    "t1_text_profile": "text",
    "px1_pii_redaction": "text",
    "dd1_exact_dedup": "dedup",
    "dp7_chunk_pack": "corpus",
    "e1_cosine_topk": "simsearch",
    # the registry's pipeline family routes a fixed transcript fixture
    # through build_routed: the read side's turns_per_s
    "p1_pipeline_severity_counts": "pipeline",
    "p2_pipeline_route_distribution": "pipeline",
    "p3_pipeline_sink_counts": "pipeline",
}

# Entries the traced run adds after the mix. Each costs 1.5-6 s per request
# on 4 shared cores (the streaming upsert and the full corpus_prep chain),
# which would leave too few requests in a timed run for a tail percentile;
# they are measured and output-checked per layer instead.
LAYER_PROBES: dict[str, str] = {
    "st6_stream_upsert": "write",
    "dp4_corpus_pipeline_end_to_end": "corpus",
}

FAMILIES = tuple(dict.fromkeys(MIX.values()))


def pipeline_fixture_turns() -> int:
    """Turns in the fixture the pipeline family reads (from its parquet
    footer, so a change to the fixture cannot go unnoticed)."""
    import pyarrow.parquet as pq

    from otel_kafka_pg_spark.queries import _PIPE_PARQUET

    if not os.path.exists(_PIPE_PARQUET):
        raise FileNotFoundError(_PIPE_PARQUET)
    return pq.read_metadata(_PIPE_PARQUET).num_rows

from .enrich import enrich_with_lookup  # noqa: F401
from .order import with_stable_order  # noqa: F401
from .route import classify_signal, sink_counts, to_logs, to_metrics, to_traces  # noqa: F401

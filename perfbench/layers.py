"""The traced run: per-layer numbers for every module on the data path.

It is a separate run from the timed ones. Spark's event log is on, every
layer call is a span (``spans.Tracer``) whose name is also the Spark job
group, and the event log is decoded after the session stops.

``ingest`` materialises successive prefixes of the lazy pipeline DAG into a
``noop`` sink: scan, + ``parse_turns``, + ``with_stable_order``, +
``enrich_with_lookup``, + ``classify_signal``/``with_attributes``, + persist,
then each sink through ``write_with_summary``. A layer's self time is its
prefix time minus the previous prefix's; the self times sum to the traced
``run_pipeline`` wall within ``SELF_SUM_TOLERANCE``. The same turns are
then drained once through ``run_stream`` for the streaming layer (the
drain's first micro-batches are cold; the medians absorb them).

``query`` runs one pass of the mix with every request in its own span,
then the mix's layer probes.

A traced run measures its own workload only. A layer the workload does not
call reads 0: the query layers on ``ingest``, and the parse, route, sink
and stream layers on ``query``, whose pipeline family routes only a small
fixture. After the traced session the run repeats the workload's operation
in a Spark context without the event log, the untraced side of
``trace_overhead``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import engine
import eventlog
import query_mix
from stats import median
from spans import Tracer
from workloads import TURNS, Ingest, Query, StreamDrain

# |sum of ingest self times / traced pipeline wall - 1| the prefix method is
# expected to stay within; the prefixes re-read the input for each layer
# and run_pipeline also writes its manifest, so they agree only roughly
SELF_SUM_TOLERANCE = 0.35
# untraced and traced repetitions of the ingest run compared for
# trace_overhead; query compares one whole pass over the mix on each side
OVERHEAD_REPS = 2

SINK_KEYS = {"traces": "traces", "logs": "logs", "metrics": "metrics", "sink_counts": "counts"}

LAYER_METRICS: dict[str, tuple[str, str]] = {
    # sources (synth input + parquet scan)
    "scan.self_s": ("s", "lower"),
    "scan.rows": ("count", "higher"),
    # functions.parse
    "parse.self_s": ("s", "lower"),
    "parse.rows": ("count", "higher"),
    "stream.parse_self_s": ("s", "lower"),
    # operators.order
    "order.self_s": ("s", "lower"),
    "order.shuffle_write_mb": ("MB", "lower"),
    "order.task_skew": ("ratio", "lower"),
    # operators.enrich
    "enrich.self_s": ("s", "lower"),
    "enrich.broadcast_rows": ("count", "lower"),
    # operators.route
    "route.self_s": ("s", "lower"),
    "route.rows.trace": ("count", "higher"),
    "route.rows.metric": ("count", "higher"),
    "route.rows.log": ("count", "higher"),
    # plans.pipeline (persist / fan-out)
    "persist.build_s": ("s", "lower"),
    "persist.cached_mb": ("MB", "lower"),
    "persist.read_mb": ("MB", "lower"),
    "ingest.pipeline_wall_s": ("s", "lower"),
    "ingest.self_sum_s": ("s", "lower"),
    "ingest.self_sum_error": ("ratio", "lower"),
    # plans.manifest (write_with_summary, one per sink)
    **{f"sink.{k}.write_s": ("s", "lower") for k in SINK_KEYS.values()},
    **{f"sink.{k}.rows": ("count", "higher") for k in SINK_KEYS.values()},
    "sink.out_mb": ("MB", "lower"),
    "manifest.fallback_fired": ("count", "lower"),
    # streaming (stream_pipeline, markers)
    "stream.batches": ("count", "lower"),
    "stream.rows_per_batch": ("count", "higher"),
    "stream.batch_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.planning_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.jobs_per_batch": ("count", "lower"),
    "stream.markers_skipped": ("count", "lower"),
    # queries and the operators, functions and plans they call
    **{f"query.{f}.busy_s": ("s", "lower") for f in query_mix.FAMILIES},
    **{f"query.{n}.s": ("s", "lower") for n in {**query_mix.MIX, **query_mix.LAYER_PROBES}},
    "cache.hits": ("count", "higher"),
    # session (the Spark engine, from its event log)
    "spark.exec_run_s": ("s", "lower"),
    "spark.exec_cpu_s": ("s", "lower"),
    "spark.wait_frac": ("ratio", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "trace_overhead": ("ratio", "lower"),
}


class _Counter:
    """Wraps a module function to count calls (or truthy results) while
    the traced run is active; the wrapped module is restored afterwards."""

    def __init__(self, module, attr: str, truthy: bool = False):
        self.module, self.attr, self.truthy = module, attr, truthy
        self.orig = getattr(module, attr)
        self.count = 0

        def wrapper(*a, **kw):
            out = self.orig(*a, **kw)
            if not self.truthy or out:
                self.count += 1
            return out

        setattr(module, attr, wrapper)

    def restore(self) -> None:
        setattr(self.module, self.attr, self.orig)


def _noop(df, observe=None) -> dict:
    """Materialise df into the noop sink; returns the observed metrics."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    exprs = observe or [F.count(F.lit(1)).alias("rows")]
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return obs.get


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _ingest_prefixes(spark, tracer: Tracer, path: str, out: str) -> dict:
    from pyspark.sql import functions as F

    from otel_kafka_pg_spark.functions.parse import parse_turns
    from otel_kafka_pg_spark.operators.enrich import enrich_with_lookup
    from otel_kafka_pg_spark.operators.order import with_stable_order
    from otel_kafka_pg_spark.operators.route import SINK_BUILDERS, classify_signal, sink_counts, with_attributes
    from otel_kafka_pg_spark.plans.manifest import write_with_summary
    from otel_kafka_pg_spark.sources.synth import service_lookup_pandas

    m = {}
    lookup = spark.createDataFrame(service_lookup_pandas())
    scan = spark.read.parquet(path)
    parsed = parse_turns(scan, impl="native")
    ordered = with_stable_order(parsed)
    enriched = enrich_with_lookup(ordered, lookup)
    routed = with_attributes(classify_signal(enriched))
    with tracer.span("ingest.scan"):
        m["scan.rows"] = _noop(scan)["rows"]
    with tracer.span("ingest.parse"):
        m["parse.rows"] = _noop(parsed)["rows"]
    with tracer.span("ingest.order"):
        _noop(ordered)
    with tracer.span("ingest.enrich"):
        _noop(enriched)
        m["enrich.broadcast_rows"] = lookup.count()
    by_signal = [F.sum(F.when(F.col("signal_type") == s, 1).otherwise(0)).alias(s) for s in ("trace", "metric", "log")]
    with tracer.span("ingest.route"):
        counts = _noop(routed, by_signal)
    m.update({f"route.rows.{s}": counts[s] for s in ("trace", "metric", "log")})
    routed = routed.persist()
    try:
        with tracer.span("ingest.persist"):
            _noop(routed)
        m["persist.cached_mb"] = _cached_mb(spark)
        for sink, builder in {**SINK_BUILDERS, "sink_counts": sink_counts}.items():
            key = SINK_KEYS[sink]
            with tracer.span(f"ingest.sink.{key}"):
                rows, _, _ = write_with_summary(builder(routed), os.path.join(out, sink))
            m[f"sink.{key}.rows"] = rows
            m[f"sink.{key}.write_s"] = tracer.dur(f"ingest.sink.{key}")
    finally:
        routed.unpersist()
    m["sink.out_mb"] = _du_mb(out)
    prefix = [tracer.dur(f"ingest.{k}") for k in ("scan", "parse", "order", "enrich", "route", "persist")]
    m["scan.self_s"] = prefix[0]
    for name, (a, b) in zip(("parse", "order", "enrich", "route"), zip(prefix, prefix[1:])):
        m[f"{name}.self_s"] = b - a
    m["persist.build_s"] = prefix[5] - prefix[4]
    m["ingest.self_sum_s"] = prefix[5] + sum(m[f"sink.{k}.write_s"] for k in SINK_KEYS.values())
    return m


def _stream_parse_self(spark, tracer: Tracer, src: str) -> float:
    """Self time of the pandas parse over one trigger's worth of files."""
    from otel_kafka_pg_spark.functions.parse import parse_turns

    files = sorted(os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet"))[:4]
    scan = spark.read.parquet(*files)
    with tracer.span("stream.scan"):
        _noop(scan)
    with tracer.span("stream.parse"):
        _noop(parse_turns(scan, impl="pandas"))
    return tracer.dur("stream.parse") - tracer.dur("stream.scan")


def _jvm_gc_ms(spark) -> int:
    """Total collection time of the driver JVM's garbage collectors. Task
    metrics only count collections that overlap a running task."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def _timed(op) -> float:
    t0 = time.perf_counter()
    op()
    return time.perf_counter() - t0


def _untraced_walls(workload, spark) -> list[float]:
    """The untraced side of ``trace_overhead``: the operation, after the
    same warm-up and as often as on the traced side, in a Spark context
    without the event log."""
    workload.warm(spark)
    if isinstance(workload, Query):
        names = workload.order()
        return [_timed(lambda: [workload.request(spark, n) for n in names])]
    return [_timed(lambda: workload.run_once(spark)) for _ in range(OVERHEAD_REPS)]


def _ingest(w: Ingest, spark, tracer: Tracer, work: str, ops: dict) -> tuple[dict, list[str]]:
    from otel_kafka_pg_spark.plans import manifest as manifest_mod
    from otel_kafka_pg_spark.streaming import stream_pipeline

    w.warm(spark)
    fallback = _Counter(manifest_mod, "content_hash")
    skipped = _Counter(stream_pipeline, "marker_committed", truthy=True)
    errors: list[str] = []
    try:
        traced = []
        for _ in range(OVERHEAD_REPS):
            with tracer.span("ingest.pipeline"):
                manifest = w.run_once(spark)
            traced.append(tracer.dur("ingest.pipeline"))
            ops["attempted"] += 1
            bad = w.check(manifest)
            ops["failed"] += bool(bad)
            errors += bad
        m = _ingest_prefixes(spark, tracer, w.path, os.path.join(work, "out", "prefixes"))
        m["manifest.fallback_fired"] = fallback.count

        drain = StreamDrain(work, w.seed)
        with tracer.span("stream.drain", job_group=False):
            run_id, events = drain.run_once(spark)
        ops["attempted"] += 1
        bad = drain.check(events)
        ops["failed"] += bool(bad)
        errors += bad
        m["stream.parse_self_s"] = _stream_parse_self(spark, tracer, drain.src)
        m["stream.markers_skipped"] = skipped.count
    finally:
        fallback.restore()
        skipped.restore()
    m["ingest.pipeline_wall_s"] = median(traced)
    m["ingest.self_sum_error"] = abs(m["ingest.self_sum_s"] / m["ingest.pipeline_wall_s"] - 1)
    if m["ingest.self_sum_error"] > SELF_SUM_TOLERANCE:
        print(f"[perfbench] layer self times sum to {m['ingest.self_sum_s']:.2f} s against a "
              f"{m['ingest.pipeline_wall_s']:.2f} s pipeline wall, beyond the stated tolerance",
              file=sys.stderr)
    n = len(events)
    m["stream.batches"] = n
    if n:
        m["stream.rows_per_batch"] = TURNS / n
        m["stream.batch_ms"] = median([e["batch_ms"] for e in events])
        for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "planning_ms"), ("walCommit", "wal_commit_ms")):
            m[f"stream.{name}"] = median([e["duration_ms"].get(key, 0) for e in events])
    m["_stream_run_id"] = run_id
    return m, errors


def _query(w, spark, tracer: Tracer, ops: dict) -> tuple[dict, list[str]]:
    from otel_kafka_pg_spark import queries as registry

    w.warm(spark)
    names = w.order()
    hits0 = registry._C3_CACHE.hits
    errors, m = [], {}

    def traced_request(name: str) -> float:
        family = w.checked[name]
        try:
            with tracer.span(f"query.{family}.{name}"):
                w.request(spark, name)
            ok = name not in w.bad_entries
        except Exception as exc:  # noqa: BLE001 — a failed request is counted
            ok = False
            errors.append(f"{name}: {exc!r}"[:300])
        ops["attempted"] += 1
        ops["failed"] += not ok
        m[f"query.{name}.s"] = tracer.dur(f"query.{family}.{name}")
        return m[f"query.{name}.s"]

    m["_query_pass_s"] = _timed(lambda: [traced_request(n) for n in names])
    m["cache.hits"] = registry._C3_CACHE.hits - hits0
    for name in names:
        key = f"query.{query_mix.MIX[name]}.busy_s"
        m[key] = m.get(key, 0.0) + m[f"query.{name}.s"]
    # the probes run once, unwarmed, as their output check: collecting
    # their few rows (at most 150) adds little to the forced execution
    for name, family in query_mix.LAYER_PROBES.items():
        with tracer.span(f"query.{family}.{name}"):
            ok = w.check_entry(spark, name)
        ops["attempted"] += 1
        ops["failed"] += not ok
        m[f"query.{name}.s"] = tracer.dur(f"query.{family}.{name}")
    errors += [f"{k}: {v}" for k, v in w.bad_entries.items()]
    return m, errors


def traced_run(workload, work: str) -> dict:
    """Trace the workload's layer calls, then time its operation untraced.

    The untraced walls come last, from a new Spark context without the
    event log (which is fixed when a context starts) on the same JVM. That
    JVM is warmer than during the traced operations, so the ratio errs
    toward overstating the overhead."""
    log_dir = os.path.join(work, "eventlog", workload.name)
    shutil.rmtree(log_dir, ignore_errors=True)
    ops = {"attempted": 0, "failed": 0}
    is_ingest = isinstance(workload, Ingest)
    spark = engine.start_session(work, log_dir)
    try:
        tracer = Tracer(spark)
        gc0 = _jvm_gc_ms(spark)
        if is_ingest:
            m, errors = _ingest(workload, spark, tracer, work, ops)
        else:
            m, errors = _query(workload, spark, tracer, ops)
        m["spark.gc_s"] = (_jvm_gc_ms(spark) - gc0) / 1000
        spark.stop()  # flushes the event log
        spark = engine.start_session(work)
        plain = _untraced_walls(workload, spark)
    finally:
        engine.stop_session(spark)
    tracer.write(os.path.join(work, f"spans_{workload.name}.json"))
    traced_wall = m["ingest.pipeline_wall_s"] if is_ingest else m["_query_pass_s"]
    m["trace_overhead"] = traced_wall / median(plain)

    groups = eventlog.group_totals(eventlog.read_events(log_dir))
    order = groups.get("ingest.order", eventlog.GroupTotals())
    m["order.shuffle_write_mb"] = order.shuffle_write_bytes / 1e6
    m["order.task_skew"] = order.task_skew()
    m["persist.read_mb"] = eventlog.merged(groups, "ingest.sink.").input_bytes / 1e6
    if is_ingest:
        stream = groups.get(m.pop("_stream_run_id") or "", eventlog.GroupTotals())
        m["stream.jobs_per_batch"] = stream.jobs / m["stream.batches"] if m["stream.batches"] else 0.0
        phase = eventlog.merged(groups, "ingest.")
        phase.add(stream)
    else:
        phase = eventlog.merged(groups, "query.")
    m.update(eventlog.session_metrics(phase))
    metrics = {name: (float(m.get(name, 0.0)), unit) for name, (unit, _) in LAYER_METRICS.items()}
    return {**ops, "errors": errors, "metrics": metrics, "spans": len(tracer.spans), "untraced_walls": plain}

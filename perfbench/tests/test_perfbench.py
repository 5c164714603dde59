"""Tests of the benchmark's pure code: percentile and tail selection, the
result line, event-log decoding, and the output checks (including negative
controls showing that corrupted output fails them). No Spark session."""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import eventlog
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- stats -------------------------------------------------------------------


@pytest.mark.parametrize(("n", "pct"), [(20, 50), (30, 66), (40, 75), (50, 80), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    assert n * (100 - pct) / 100 >= 10
    # one percent higher would leave fewer than ten
    assert n * (100 - pct - 1) / 100 < 10


def test_tail_percentile_refuses_small_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile(19)


def test_workload_tail_is_supported_by_its_minimum_sample():
    from workloads import QUERY_MIN_REQUESTS, QUERY_TAIL_PCT

    assert stats.tail_percentile(QUERY_MIN_REQUESTS) == QUERY_TAIL_PCT


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 75) == 4.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5


# -- result line -------------------------------------------------------------


def test_result_line_schema():
    line = stats.result_line(True, 12, 0, {"latency_p50_ms": (1.5, "ms"), "setup_s": (0.8, "s")})
    assert tuple(line) == stats.RESULT_KEYS
    assert line["metrics"] == {"latency_p50_ms": {"value": 1.5, "unit": "ms"}, "setup_s": {"value": 0.8, "unit": "s"}}
    assert json.loads(json.dumps(line)) == line


@pytest.mark.parametrize(
    ("attempted", "failed", "value"),
    [(0, 0, 1.0), (3, 4, 1.0), (3, -1, 1.0), (3, 0, float("nan")), (3, 0, float("inf"))],
)
def test_result_line_rejects_bad_values(attempted, failed, value):
    with pytest.raises(ValueError):
        stats.result_line(True, attempted, failed, {"m": (value, "s")})


def test_benchmark_json_matches_the_code():
    import layers
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.LAYER_METRICS
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert {"setup_s", "peak_rss_mb", "ok_frac", "turns_per_s", "requests_per_s",
            "latency_p50_ms", "latency_tail_ms"} == e2e
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# -- event log ---------------------------------------------------------------


def _task(stage, run_ms, cpu_ns, *, failed=False, shuffle_read=0, shuffle_write=0, spill=0, gc=0, input_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Input Metrics": {"Bytes Read": input_bytes},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "ingest.order"}},
    _task(0, 100, 50_000_000, shuffle_write=4_000_000),
    _task(0, 120, 60_000_000, shuffle_write=4_000_000),
    _task(1, 10, 5_000_000, shuffle_read=1_000),
    _task(1, 30, 10_000_000, shuffle_read=1_000),
    _task(1, 90, 20_000_000, shuffle_read=6_000, gc=7),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "ingest.sink.traces"}},
    _task(2, 40, 30_000_000, input_bytes=2_000_000, spill=1_000_000),
    _task(2, 5, 1_000_000, failed=True),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    _task(3, 1, 1_000_000),
]


def _write_rolling_log(root, events, split=8):
    """The Spark 4.1 rolling layout: events_1 zstd-compressed, events_2 plain."""
    app = os.path.join(root, "eventlog_v2_local-1")
    os.makedirs(app)
    first = "\n".join(json.dumps(e) for e in events[:split]) + "\n"
    with pa.CompressedOutputStream(os.path.join(app, "events_1_local-1.zstd"), "zstd") as out:
        out.write(first.encode())
    with open(os.path.join(app, "events_2_local-1"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events[split:]) + "\n")
    open(os.path.join(app, "appstatus_local-1"), "w").close()


def test_event_log_decodes_rolling_zstd_files(tmp_path):
    _write_rolling_log(str(tmp_path), CANNED)
    assert eventlog.read_events(str(tmp_path)) == CANNED


def test_event_log_group_totals(tmp_path):
    _write_rolling_log(str(tmp_path), CANNED)
    groups = eventlog.group_totals(eventlog.read_events(str(tmp_path)))
    order = groups["ingest.order"]
    assert (order.jobs, order.tasks, order.tasks_failed) == (1, 5, 0)
    assert order.run_ms == 350 and order.cpu_ns == 145_000_000
    assert order.shuffle_write_bytes == 8_000_000
    # skew is read on the shuffle-reading stage: max 90 / median 30
    assert order.task_skew() == 3.0
    sink = groups["ingest.sink.traces"]
    assert (sink.tasks, sink.tasks_failed, sink.input_bytes, sink.spill_bytes) == (2, 1, 2_000_000, 1_000_000)
    assert groups[""].tasks == 1
    merged = eventlog.merged(groups, "ingest.")
    assert (merged.jobs, merged.tasks, merged.run_ms) == (2, 7, 395)
    m = eventlog.session_metrics(merged)
    assert m["spark.exec_run_s"] == 0.395
    assert m["spark.wait_frac"] == pytest.approx(1 - 0.176 / 0.395)
    assert m["spark.tasks_failed"] == 1


# -- output checks -----------------------------------------------------------


@pytest.fixture(scope="module")
def reference_sinks():
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from reference_impl import route_reference

    from otel_kafka_pg_spark.sources.synth import service_lookup_pandas, synth_transcripts_pandas

    out = route_reference(synth_transcripts_pandas(400, 5), service_lookup_pandas())
    out["sink_counts"]["time_bucket"] = out["sink_counts"]["time_bucket"].astype("datetime64[us]")
    return out


def _write_sinks(root, frames, parts=2):
    for sink, df in frames.items():
        os.makedirs(os.path.join(root, sink))
        step = -(-len(df) // parts)
        for i in range(parts):
            chunk = df.iloc[i * step:(i + 1) * step]
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                           os.path.join(root, sink, f"part-{i:05d}.parquet"))
        # a commit marker beside the data must be ignored
        open(os.path.join(root, sink, "_SUCCESS"), "w").close()


def test_sink_check_accepts_matching_output(tmp_path, reference_sinks):
    expected = {s: list(checks.digest(checks.collapse_counts(df) if s == "sink_counts" else df))
                for s, df in reference_sinks.items()}
    _write_sinks(str(tmp_path), reference_sinks)
    assert checks.check_sinks(str(tmp_path), expected) == []


def test_sink_counts_collapse_across_micro_batches(tmp_path, reference_sinks):
    """A stream appends one count row per key per micro-batch; split every
    count in two rows and the totals still match."""
    counts = reference_sinks["sink_counts"]
    halves = pd.concat([counts.assign(n=counts["n"] // 2), counts.assign(n=counts["n"] - counts["n"] // 2)])
    expected = list(checks.digest(checks.collapse_counts(counts)))
    assert list(checks.digest(checks.collapse_counts(halves))) == expected


def _corruptions(frames):
    logs = frames["logs"]
    yield "value", {**frames, "logs": logs.assign(severity=["FATAL"] + list(logs["severity"].iloc[1:]))}
    yield "dropped row", {**frames, "traces": frames["traces"].iloc[1:]}
    yield "duplicated row", {**frames, "metrics": pd.concat([frames["metrics"], frames["metrics"].iloc[:1]])}
    yield "swapped columns", {**frames, "traces": frames["traces"].rename(
        columns={"trace_id": "span_id", "span_id": "trace_id"})}
    yield "null for empty", {**frames, "logs": logs.assign(trace_id=[None] + list(logs["trace_id"].iloc[1:]))}
    counts = frames["sink_counts"]
    yield "count off by one", {**frames, "sink_counts": counts.assign(n=[counts["n"].iloc[0] + 1] + list(counts["n"].iloc[1:]))}


def test_sink_check_fails_on_corrupted_output(tmp_path, reference_sinks):
    """Negative control: each corruption of one sink's files is caught."""
    expected = {s: list(checks.digest(checks.collapse_counts(df) if s == "sink_counts" else df))
                for s, df in reference_sinks.items()}
    for i, (what, frames) in enumerate(_corruptions(reference_sinks)):
        root = str(tmp_path / f"c{i}")
        _write_sinks(root, frames)
        assert checks.check_sinks(root, expected), what


def test_sink_check_fails_on_a_deleted_file(tmp_path, reference_sinks):
    expected = {s: list(checks.digest(checks.collapse_counts(df) if s == "sink_counts" else df))
                for s, df in reference_sinks.items()}
    _write_sinks(str(tmp_path), reference_sinks)
    os.remove(os.path.join(str(tmp_path), "logs", "part-00001.parquet"))
    assert checks.check_sinks(str(tmp_path), expected)


def test_query_digest_ignores_order_and_float_noise():
    base = pd.DataFrame({"a": [1, 2, 3], "b": [1.25, -0.5, float("nan")], "t": pd.to_datetime(["2024-01-01"] * 3)})
    reordered = base.iloc[::-1][["t", "b", "a"]]
    noise = base.assign(b=[1.2500000001, -0.5, float("nan")])
    assert checks.query_digest(base) == checks.query_digest(reordered) == checks.query_digest(noise)
    for broken in (base.assign(a=[1, 2, 4]), base.assign(b=[1.2500015, -0.5, float("nan")]),
                   base.assign(b=[1.25, -0.5, 0.0]), base.iloc[:2]):
        assert checks.query_digest(broken) != checks.query_digest(base)


# -- inputs ------------------------------------------------------------------


def test_inputs_dir_is_keyed_by_the_code_that_makes_the_inputs(tmp_path, monkeypatch):
    import inputs

    repo = tmp_path / "repo"
    (repo / "pkg").mkdir(parents=True)
    src = repo / "pkg" / "synth.py"
    src.write_text("ROWS = 1\n")
    monkeypatch.setattr(inputs, "REPO", str(repo))
    monkeypatch.setattr(inputs, "INPUT_SOURCES", ("pkg",))
    work = str(tmp_path / "work")
    inputs.inputs_dir.cache_clear()
    try:
        first = inputs.inputs_dir(work)
        open(os.path.join(first, "expected.json"), "w").close()
        inputs.inputs_dir.cache_clear()
        assert inputs.inputs_dir(work) == first  # same code, same cache
        src.write_text("ROWS = 2\n")
        inputs.inputs_dir.cache_clear()
        second = inputs.inputs_dir(work)
    finally:
        inputs.inputs_dir.cache_clear()
    assert second != first
    assert not os.path.exists(first)  # the stale expected values are gone


# -- query tables ------------------------------------------------------------


@pytest.mark.parametrize("sf", ["0.01", "0.1"])
def test_generated_tables_have_the_measured_shape(sf):
    import inputs
    import tables

    got = tables.shape(tables.generate_tables(float(sf), inputs.DATA_SEED))
    assert tables.shape_mismatches(got, tables.MEASURED_SHAPES[f"sf{sf}"]) == []


def test_shape_check_catches_a_changed_distribution():
    import tables

    frames = tables.generate_tables(0.01, 1)
    frames["documents"] = frames["documents"].assign(text=frames["documents"]["text"].str.upper() + " x y z v w")
    bad = tables.shape_mismatches(tables.shape(frames), tables.MEASURED_SHAPES["sf0.01"])
    assert any(b.startswith("documents.vocabulary") for b in bad)
    assert any(b.startswith("documents.tokens_mean") for b in bad)


def test_measured_shapes_match_the_repo_test_tables():
    """Re-measures the directory the repo's tests read, where one is set."""
    import tables
    from otel_kafka_pg_spark.sources.tables import TESTDATA_TABLES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        pytest.skip("SPARK_GRAFT_SF_DIR names no table directory")
    frames = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")).to_pandas() for t in TESTDATA_TABLES}
    key = next((k for k, v in tables.MEASURED_SHAPES.items() if v["rows.lineitem"] == len(frames["lineitem"])), None)
    if key is None:
        pytest.skip(f"no measured shape for the scale of {sf_dir}")
    assert tables.shape_mismatches(tables.shape(frames), tables.MEASURED_SHAPES[key]) == []

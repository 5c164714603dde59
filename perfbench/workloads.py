"""The workloads: one operation each, its warm-up and its timed loop.

- ``ingest``: ``plans.pipeline.run_pipeline`` with the job's defaults
  (native parse, multiwrite, persist) over one batch of turns whose row
  order the seed sets, repeated in a closed loop. Per-job fixed cost,
  parse, and route + cache build make up a run; the query layers sit idle.
- ``query``: one client in a closed loop over the versioned registry mix
  (``query_mix``), each request forced with a ``noop`` write. The seed sets
  the request order; the tables are fixed.

Streaming (``run_stream``) is not a timed workload: a drain costs 1-2 s per
micro-batch on 4 cores and keeps getting faster for several drains, so it
cannot be warmed and sampled in a run of about a minute. ``StreamDrain``
drains the ingest turns in the traced run instead, which reports the
streaming layer and checks that stream totals equal batch totals.

Every operation's output is checked; an operation that raises or fails its
check counts as failed.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

import checks
import inputs
import query_mix
from stats import median, percentile

# Turns per ingest operation. The 600k-turn batch of ``bench.py`` takes
# 8-10 s per run on 4 cores and 13-15 s while cold. On 4 shared vCPUs
# single operations vary by up to 35% within a run, so a steady median
# needs several operations per run. Below about 40k turns a run's time is
# mostly fixed per-job cost (20k and 40k both took about 4 s), so 40k
# does the most routing work per operation that six operations allow.
TURNS = 40_000
# small files, so a drain is several micro-batches (4 files each) of mostly
# fixed per-batch cost: 20 files, 5 batches. 1k-turn files gave 10 batches
# and took 25-35 s of the traced run's 180 s on 4 cores.
STREAM_FILE_TURNS = 2_000
# query tail: p75 over at least 40 requests (stats.tail_percentile(40) == 75)
QUERY_TAIL_PCT, QUERY_MIN_REQUESTS = 75, 40
# ingest runs are too few for a percentile with 10 samples beyond it; its
# tail is the p75 of at least six run walls
INGEST_TAIL_PCT, INGEST_MIN_RUNS = 75, 6
INGEST_WARM_RUNS = 3


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def warm(op, runs: int) -> list[float]:
    """Run op a fixed number of times before timing. On 4 shared cores a
    fresh JVM's 40k-turn ingest runs took 14.7, 6.7, 4.3, 4.0 and 4.1 s:
    three runs absorb the cold start, and the rest is host noise that a
    steady-state test would chase (the host's speed varies 1.5x within
    seconds), so the count is fixed and set-up time stays comparable."""
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        op()
        walls.append(time.perf_counter() - t0)
    return walls


class Ingest:
    name = "ingest"

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.path = inputs.transcripts(work, seed, TURNS)
        self.expected = inputs.expected_sinks(work, TURNS)
        self.out = os.path.join(work, "out", "ingest")

    def run_once(self, spark) -> dict:
        from otel_kafka_pg_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, self.path, _fresh(self.out), resume=False)

    def check(self, manifest: dict) -> list[str]:
        bad = checks.check_sinks(self.out, self.expected)
        rows = manifest["sinks"]["traces"]["input_rows"]
        if rows != TURNS:
            bad.append(f"input_rows {rows} != {TURNS}")
        return bad

    def warm(self, spark) -> list[float]:
        return warm(lambda: self.run_once(spark), INGEST_WARM_RUNS)

    def timed(self, spark, seconds: float) -> dict:
        walls, failures, errors = [], 0, []
        while sum(walls) < seconds or len(walls) < INGEST_MIN_RUNS:
            t0 = time.perf_counter()
            try:
                manifest = self.run_once(spark)
                walls.append(time.perf_counter() - t0)
                bad = self.check(manifest)
            except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                walls.append(time.perf_counter() - t0)
                bad = [repr(exc)[:300]]
            failures += bool(bad)
            errors.extend(bad)
        return {
            "attempted": len(walls),
            "failed": failures,
            "errors": errors,
            "walls": walls,
            "metrics": {
                "turns_per_s": (TURNS / median(walls), "turns/s"),
                "requests_per_s": (len(walls) / sum(walls), "req/s"),
                "latency_p50_ms": (median(walls) * 1000, "ms"),
                "latency_tail_ms": (percentile(walls, INGEST_TAIL_PCT) * 1000, "ms"),
            },
        }


def _progress_listener(spark):
    """Registers and returns a listener that collects the progress events
    of every streaming query started after it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress = []
            self.run_ids = []

        def onQueryStarted(self, event):
            with self.lock:
                self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "batch_ms": p.batchDuration,
                        "duration_ms": dict(p.durationMs),
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


class StreamDrain:
    """``run_stream`` with its defaults (pandas parse, 4 files per trigger)
    draining the ingest turns laid out as many small files: a closed-loop
    backfill, since ``run_stream`` supports only ``availableNow``."""

    def __init__(self, work: str, seed: int):
        self.src = inputs.stream_files(work, seed, TURNS, STREAM_FILE_TURNS)
        self.expected = inputs.expected_sinks(work, TURNS)
        self.out = os.path.join(work, "out", "stream")
        files = [f for f in os.listdir(self.src) if f.endswith(".parquet")]
        self.batches = -(-len(files) // 4)
        self.listener = None

    def run_once(self, spark) -> tuple[str, list[dict]]:
        """One drain; returns its run id and progress events."""
        from otel_kafka_pg_spark.streaming.stream_pipeline import run_stream

        if self.listener is None:
            self.listener = _progress_listener(spark)
        with self.listener.lock:
            seen = len(self.listener.run_ids)
        run_stream(spark, self.src, _fresh(self.out))
        # progress events arrive asynchronously after the query ends
        deadline = time.monotonic() + 10
        while True:
            with self.listener.lock:
                run_id = self.listener.run_ids[seen] if len(self.listener.run_ids) > seen else None
                events = [p for p in self.listener.progress if p["run_id"] == run_id and p["rows"] > 0]
            if (run_id is not None and len(events) >= self.batches) or time.monotonic() > deadline:
                return run_id, sorted(events, key=lambda p: p["batch_id"])
            time.sleep(0.02)

    def check(self, events: list[dict]) -> list[str]:
        """Stream totals must equal the batch totals for the same turns: both
        are compared with the same reference digests."""
        bad = checks.check_sinks(self.out, self.expected)
        if len(events) != self.batches:
            bad.append(f"{len(events)} micro-batches reported, {self.batches} expected")
        return bad


class Query:
    name = "query"

    def __init__(self, work: str, seed: int):
        from otel_kafka_pg_spark import queries as registry

        self.rng = random.Random(seed)
        self.data = inputs.query_tables(work)
        self.fns = registry.all_queries()  # also writes the pipeline family's fixture
        self.checked = {**query_mix.MIX, **query_mix.LAYER_PROBES}
        self.expected = inputs.expected_queries(self.data, list(self.checked), query_mix.VERSION)
        missing = sorted(set(self.checked) - set(self.expected))
        if missing:
            raise ValueError(f"mix entries without an oracle: {missing}")
        self.fixture_turns = query_mix.pipeline_fixture_turns()
        self.bad_entries: dict[str, str] = {}

    def request(self, spark, name: str) -> None:
        self.fns[name](spark, self.data).write.format("noop").mode("overwrite").save()

    def order(self) -> list[str]:
        names = list(query_mix.MIX)
        self.rng.shuffle(names)
        return names

    def check_entry(self, spark, name: str) -> bool:
        """Run the entry, collect its rows and compare them with its oracle;
        a failure is recorded in ``bad_entries``, and the entry's requests
        count as failed."""
        try:
            got = checks.query_digest(self.fns[name](spark, self.data).toPandas())
        except Exception as exc:  # noqa: BLE001
            self.bad_entries[name] = repr(exc)[:300]
            return False
        if got != self.expected[name]:
            self.bad_entries[name] = f"rows/digest {got} != oracle {self.expected[name]}"
            return False
        return True

    def warm(self, spark) -> list[float]:
        """One pass that checks each entry of the mix against its oracle; it
        also compiles every entry's plans before the timed loop."""
        t0 = time.perf_counter()
        for name in query_mix.MIX:
            self.check_entry(spark, name)
        return [time.perf_counter() - t0]

    def timed(self, spark, seconds: float) -> dict:
        lat, failures, errors = [], 0, dict(self.bad_entries)
        routed = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(lat) < QUERY_MIN_REQUESTS:
            for name in self.order():  # whole passes keep the mix fixed
                r0 = time.perf_counter()
                try:
                    self.request(spark, name)
                    ok = name not in self.bad_entries
                except Exception as exc:  # noqa: BLE001
                    ok = False
                    errors[name] = repr(exc)[:300]
                lat.append(time.perf_counter() - r0)
                routed += self.fixture_turns * (query_mix.MIX[name] == "pipeline")
                failures += not ok
        wall = time.perf_counter() - t0
        return {
            "attempted": len(lat),
            "failed": failures,
            "errors": [f"{k}: {v}" for k, v in errors.items()],
            "walls": [wall],
            "metrics": {
                # turns the mix's pipeline-family requests route, divided by the
                # timed wall. Divided by those requests' own time instead, six
                # samples a run made it spread 0.26 over ten runs.
                "turns_per_s": (routed / wall, "turns/s"),
                "requests_per_s": (len(lat) / wall, "req/s"),
                "latency_p50_ms": (median(lat) * 1000, "ms"),
                "latency_tail_ms": (percentile(lat, QUERY_TAIL_PCT) * 1000, "ms"),
            },
        }


WORKLOADS = {w.name: w for w in (Ingest, Query)}

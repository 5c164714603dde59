"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics of BENCHMARK.json with tracing off; ``--trace 1`` is the separate
traced run that reports the per-layer metrics. The last stdout line is the
result object; the line before it stamps the run (host, versions, source
fingerprint, seed, stall factor). Inputs, outputs and logs live under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def git_rev() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stamp(args, probe, stall: float) -> dict:
    import pyarrow
    import pyspark

    from engine import DRIVER_HEAP, host_cpus
    from inputs import source_fingerprint

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": host_cpus(),
        "driver_heap": DRIVER_HEAP,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "git_rev": git_rev(),
        "source": source_fingerprint(),
        "probe_baseline_s": round(probe.baseline, 4),
        "stall_factor": round(stall, 3),
    }


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and the shared stall probe must be present: a checkout
    # holding only the benchmark fails here, before any result is printed
    import otel_kafka_pg_spark  # noqa: F401
    from bench import StallProbe

    import engine
    from stats import result_line

    os.makedirs(WORK, exist_ok=True)
    engine.confine_scratch(WORK)
    workload = WORKLOADS[args.workload](WORK, args.seed)
    probe = StallProbe()

    if args.trace:
        import layers

        before = probe.sample()
        res = layers.traced_run(workload, WORK)
        stall = max(before, probe.sample())
    else:
        t0 = time.perf_counter()
        spark = engine.start_session(WORK)
        start_s = time.perf_counter() - t0
        try:
            warm = workload.warm(spark)
            setup_s = start_s + sum(warm)
            before = probe.sample()
            with engine.PeakRss() as rss:
                res = workload.timed(spark, args.seconds)
            stall = max(before, probe.sample())
        finally:
            engine.stop_session(spark)
        res["metrics"].update(
            {
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
                "ok_frac": (1 - res["failed"] / res["attempted"], "ratio"),
            }
        )
        res["session_start_s"] = start_s
        res["warm_s"] = warm

    detail = {"stamp": stamp(args, probe, stall), **{k: v for k, v in res.items() if k != "metrics"}}
    with open(os.path.join(WORK, f"last_{args.workload}_trace{args.trace}.json"), "w") as f:
        json.dump({**detail, "metrics": res["metrics"]}, f, indent=1, default=str)
    for e in res.get("errors", [])[:20]:
        print(f"[perfbench] failed: {e}", file=sys.stderr)
    print(json.dumps(detail["stamp"]))
    line = result_line(res["failed"] == 0, res["attempted"], res["failed"], res["metrics"])
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

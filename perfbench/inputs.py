"""Benchmark inputs, made from the workload seed, and their expected outputs.

The seed sets the order of the work, not its amount. Ingest turns are one
fixed ``sources.synth`` draw (``DATA_SEED``) whose rows the seed permutes:
with a few hundred Zipf-length conversations, a giant conversation holds
up to a tenth of the turns, and a fresh draw per seed moved the ordering
window's four-way partition balance, and with it the run time, by up to
30%. The query tables are fixed too; there the seed orders the requests.

Everything is cached under the benchmark's work directory, in a directory
named by a hash of the code that makes it (``INPUT_SOURCES``), so repeated
runs in one checkout pay generation once and a change to that code, such as
an edited ``oracle_sql`` or ``sources.synth``, makes them afresh:

- transcripts: the permuted turns as four parquet files (ingest) and as many
  small files (the traced stream drain), the same turns either way;
- expected sinks: per-sink (rows, digest) from the engine-independent
  ``tests/reference_impl.route_reference``; the digests ignore row order,
  so one computation serves every seed;
- query tables and the DuckDB digests of every oracled entry in the mix.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_SEED = 42
QUERY_SF = 0.01
# Spark packs small files into one scan split, so a single 40k-turn file
# would parse in one task; four files give the four parallel scan splits
# that the 600k-turn single file of ``bench.py`` gets on four cores.
INGEST_FILES = 4
# what the cached inputs and expected values are computed from: the engine
# (its synth source and the registry's oracle SQL), the reference router,
# and the benchmark's own generators and checks
INPUT_SOURCES = (
    "otel_kafka_pg_spark",
    "tests/reference_impl.py",
    "perfbench/inputs.py",
    "perfbench/tables.py",
    "perfbench/checks.py",
    "perfbench/query_mix.py",
)


def _hash_sources(paths) -> str:
    h = hashlib.sha256()
    for path in paths:
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py"))
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def source_fingerprint() -> str:
    """Identifies the engine code under test where the checkout is not a
    git repository."""
    return _hash_sources([os.path.join(REPO, "otel_kafka_pg_spark")])


@functools.cache
def inputs_dir(work: str) -> str:
    """``work/inputs/<hash of INPUT_SOURCES>``. Caches that other code made
    are removed, so a stale expected value is never read."""
    key = _hash_sources(os.path.join(REPO, p) for p in INPUT_SOURCES)
    root = os.path.join(work, "inputs")
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old != key:
            path = os.path.join(root, old)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    dest = os.path.join(root, key)
    os.makedirs(dest, exist_ok=True)
    return dest


def _atomic_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def transcripts(work: str, seed: int, n: int) -> str:
    """A directory of ``INGEST_FILES`` parquet files holding the n fixed
    turns in the seed's row order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otel_kafka_pg_spark.sources.synth import synth_transcripts_pandas

    dest = os.path.join(inputs_dir(work), f"turns_n{n}_order{seed}")
    if not os.path.exists(os.path.join(dest, "_DONE")):
        os.makedirs(dest, exist_ok=True)
        turns = synth_transcripts_pandas(n, DATA_SEED)
        turns = turns.iloc[np.random.default_rng(seed).permutation(n)]
        table = pa.Table.from_pandas(turns, preserve_index=False)
        step = -(-n // INGEST_FILES)
        for i in range(INGEST_FILES):
            pq.write_table(table.slice(i * step, step), os.path.join(dest, f"part-{i:05d}.parquet"))
        open(os.path.join(dest, "_DONE"), "w").close()
    return dest


def stream_files(work: str, seed: int, n: int, per_file: int) -> str:
    """The same n turns, in the seed's order, split into files of per_file
    turns: a conversation spans files and therefore micro-batches."""
    import pyarrow.parquet as pq

    src = transcripts(work, seed, n)
    dest = os.path.join(inputs_dir(work), f"stream_n{n}_order{seed}_f{per_file}")
    if not os.path.exists(os.path.join(dest, "_DONE")):
        os.makedirs(dest, exist_ok=True)
        table = pq.read_table(src)
        for i, start in enumerate(range(0, table.num_rows, per_file)):
            pq.write_table(table.slice(start, per_file), os.path.join(dest, f"part-{i:05d}.parquet"))
        open(os.path.join(dest, "_DONE"), "w").close()
    return dest


def expected_sinks(work: str, n: int) -> dict[str, list[int]]:
    """Per-sink [rows, digest] of the reference routing of the n turns."""
    from checks import SINKS, collapse_counts, digest
    from otel_kafka_pg_spark.sources.synth import service_lookup_pandas, synth_transcripts_pandas

    path = os.path.join(inputs_dir(work), f"expected_n{n}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    sys.path.insert(0, os.path.join(REPO, "tests"))
    from reference_impl import route_reference

    frames = route_reference(synth_transcripts_pandas(n, DATA_SEED), service_lookup_pandas())
    frames["sink_counts"]["time_bucket"] = frames["sink_counts"]["time_bucket"].astype("datetime64[us]")
    expected = {}
    for sink in SINKS:
        frame = collapse_counts(frames[sink]) if sink == "sink_counts" else frames[sink]
        expected[sink] = list(digest(frame))
    _atomic_json(path, expected)
    return expected


def query_tables(work: str) -> str:
    from tables import write_tables

    return write_tables(os.path.join(inputs_dir(work), f"tables_sf{QUERY_SF}_s{DATA_SEED}"), QUERY_SF, DATA_SEED)


def expected_queries(data_dir: str, names: list[str], version: str) -> dict[str, list[int]]:
    """[rows, digest] of each entry's DuckDB oracle over data_dir (entries
    without an oracle are absent)."""
    import duckdb

    from checks import query_digest
    from otel_kafka_pg_spark.queries import EXTRA_REGISTRY, REGISTRY
    from otel_kafka_pg_spark.sources.tables import TESTDATA_TABLES

    path = os.path.join(data_dir, f"expected_{version}.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    oracles = {n: sql for n, (_, sql) in {**REGISTRY, **EXTRA_REGISTRY}.items() if n in names and sql}
    missing = [n for n in oracles if n not in cached]
    if missing:
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
            for n in missing:
                cached[n] = query_digest(con.execute(oracles[n]).fetchdf())
        finally:
            con.close()
        _atomic_json(path, cached)
    return {n: cached[n] for n in oracles}

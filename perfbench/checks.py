"""Engine-independent output checks.

A sink directory or a query result is reduced to (rows, digest): every
value is rendered to a canonical string (NULL and NaN as one sentinel,
timestamps as epoch microseconds, floats by ``repr``), each row is hashed
by pandas, and the row hashes are summed modulo 2**64, so the digest
ignores row and column order but, unlike XOR, does not let duplicated rows
cancel. Sinks are read back with pyarrow, never Spark, and the expected
digests come from ``tests/reference_impl.route_reference`` (row-at-a-time
Python) or DuckDB, so neither side of a comparison runs the engine under
test.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

NULL = "\x00null"
SINKS = ("traces", "logs", "metrics", "sink_counts")
COUNT_KEYS = ["sink", "conv_id", "role", "tool", "time_bucket"]


def _canon(col: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        us = col.astype("datetime64[us]").astype("int64").astype(str)
        return us.where(col.notna(), NULL)
    if pd.api.types.is_float_dtype(col):
        return col.map(lambda v: NULL if v != v else repr(float(v)))
    if pd.api.types.is_integer_dtype(col) or pd.api.types.is_bool_dtype(col):
        return col.astype(str)

    def one(v):
        if v is None or (isinstance(v, float) and v != v):
            return NULL
        if isinstance(v, pd.Timestamp):
            return str(v.tz_localize(None).value // 1000 if v.tz else v.value // 1000)
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, np.ndarray)):
            return repr([one(x) for x in v])
        return str(v)

    return col.map(one)


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive content digest) of a frame."""
    if len(df) == 0:
        return 0, 0
    canon = pd.DataFrame({c: _canon(df[c].reset_index(drop=True)) for c in sorted(df.columns)})
    # tag each cell with its column name so a value moved between columns
    # changes the digest
    canon = canon.apply(lambda s: s.name + "=" + s)
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def collapse_counts(df: pd.DataFrame) -> pd.DataFrame:
    """sink_counts rows summed per key: a stream appends one count row per
    key per micro-batch, the batch job one per key; both collapse to the
    same totals."""
    if len(df) == 0:
        return df
    return df.groupby(COUNT_KEYS, dropna=False, as_index=False)["n"].sum()


def read_sink(path: str) -> pd.DataFrame:
    """A sink directory's parquet files, read with pyarrow (marker and
    ``_SUCCESS`` files are skipped)."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    files = [f for f in files if not os.path.basename(f).startswith(("_", "."))]
    if not files:
        return pd.DataFrame()
    import pyarrow as pa

    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def sink_digests(out_dir: str) -> dict[str, list[int]]:
    """{sink: [rows, digest]} for the four sink directories under out_dir."""
    out = {}
    for sink in SINKS:
        df = read_sink(os.path.join(out_dir, sink))
        if sink == "sink_counts":
            df = collapse_counts(df)
        out[sink] = list(digest(df))
    return out


def check_sinks(out_dir: str, expected: dict[str, list[int]]) -> list[str]:
    """Mismatch descriptions; empty when every sink matches ``expected``."""
    got = sink_digests(out_dir)
    return [
        f"{sink}: rows/digest {got[sink]} != expected {expected[sink]}"
        for sink in SINKS
        if got[sink] != list(expected[sink])
    ]


def _registry_cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return NULL
    if isinstance(v, float):
        return f"{round(v, 6):.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def query_digest(pdf: pd.DataFrame) -> list[int]:
    """Digest of a query result under the registry's own comparison rule
    (tests/test_oracle_differential.py): floats on a six-decimal grid,
    timestamps in ISO form, everything else by ``str``; column and row
    order ignored."""
    cells = pdf.astype(object).map(_registry_cell)
    return list(digest(cells))

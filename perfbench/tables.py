"""Seeded generator for the star-schema tables the registry queries read.

The registry entries read ``<dir>/<table>.parquet`` for the ten tables in
``sources.tables.TESTDATA_TABLES``. The benchmark cannot rely on a data
directory outside its own checkout, so it generates one with the schemas
and value shapes of the repo's test tables, the ``sf0.01`` and ``sf0.1``
directories that ``tests/conftest.py`` and ``bench.py`` read through
``SPARK_GRAFT_SF_DIR``.

``MEASURED_SHAPES`` holds the figures ``shape()`` measured on those two
directories: row counts, document length in tokens, vocabulary size,
exact and near duplicate rates, language mix, embedding dimension and
norm, the user count and time span of the events, and key skew (the most
frequent key's count over the mean count; near 1 for uniform keys). The
generator's constants reproduce them, which ``perfbench/tests`` checks at
both scales, and against the measured directory itself when
``SPARK_GRAFT_SF_DIR`` names one.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = np.array(
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PART_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    lens = rng.integers(10, 100, n)
    words = rng.choice(WORDS, size=int(lens.sum()))
    bounds = np.concatenate(([0], np.cumsum(lens)))
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # one near duplicate (another document plus one token) per 20 documents
    # and one exact copy per 600: the dedup/corpus families need both kinds
    # to find. Each copies a distinct original, so no two copies collide.
    near, exact = n // 20, n // 600
    targets = rng.choice(n, size=near + exact, replace=False)
    sources = rng.choice(np.setdiff1d(np.arange(n), targets), size=near + exact, replace=False)
    for k, (i, j) in enumerate(zip(targets, sources)):
        text[i] = text[j] + " dup" if k < near else text[j]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def generate_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables as pandas frames, a pure function of (sf, seed)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(int(50_000 * sf), 200), max(int(20_000 * sf), 500)
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["P", "O", "F"]), n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(np.array(["N", "R", "A"]), n_line),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2499),
        }
    )
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def write_tables(dest: str, sf: float, seed: int) -> str:
    """Write the tables as ``<dest>/<name>.parquet`` once; return ``dest``.
    A ``_SUCCESS`` file marks a complete directory so an interrupted write
    is redone rather than read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    done = os.path.join(dest, "_SUCCESS")
    if os.path.exists(done):
        return dest
    os.makedirs(dest, exist_ok=True)
    for name, pdf in generate_tables(sf, seed).items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(dest, f"{name}.parquet"))
    open(done, "w").close()
    return dest


# shape() of the repo's test tables: sf0.01 and sf0.1 (the latter is what
# bench.py reads), measured with pyarrow 16.1
MEASURED_SHAPES: dict[str, dict[str, float]] = {
    "sf0.01": {
        **{f"rows.{t}": r for t, r in zip(
            ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"),
            (5, 25, 1500, 100, 2000, 15000, 60000, 10000, 500, 500),
        )},
        "documents.tokens_min": 10,
        "documents.tokens_max": 99,
        "documents.tokens_mean": 54.33,
        "documents.vocabulary": 31,
        "documents.exact_dup_frac": 0.0,
        "documents.near_dup_frac": 0.048,
        "documents.en_frac": 0.436,
        "embeddings.dim": 64,
        "embeddings.norm_err": 1.2e-07,
        "embeddings.labels": 10,
        "events.users": 150,
        "events.days": 30.0,
        "events.value_mean": 49.63,
        "skew.events_user": 1.29,
        "skew.orders_cust": 2.5,
        "skew.lineitem_order": 3.194,
        "skew.lineitem_supp": 1.105,
    },
    "sf0.1": {
        **{f"rows.{t}": r for t, r in zip(
            ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"),
            (5, 25, 15000, 1000, 20000, 150000, 600000, 100000, 5000, 2000),
        )},
        "documents.tokens_min": 10,
        "documents.tokens_max": 100,
        "documents.tokens_mean": 54.14,
        "documents.vocabulary": 31,
        "documents.exact_dup_frac": 0.0016,
        "documents.near_dup_frac": 0.0486,
        "documents.en_frac": 0.412,
        "embeddings.dim": 64,
        "embeddings.norm_err": 1.8e-07,
        "embeddings.labels": 10,
        "events.users": 1500,
        "events.days": 30.0,
        "events.value_mean": 49.87,
        "skew.events_user": 1.485,
        "skew.orders_cust": 2.4,
        "skew.lineitem_order": 4.172,
        "skew.lineitem_supp": 1.158,
    },
}

# how far a figure may stray from its measured value: ("abs", d) or
# ("rel", share); a figure not listed must be equal. The slack covers the
# sampling noise of a different draw of the same distributions.
SHAPE_TOLERANCE: dict[str, tuple[str, float]] = {
    "documents.tokens_max": ("abs", 1),
    "documents.tokens_mean": ("rel", 0.03),
    "documents.exact_dup_frac": ("abs", 0.005),
    "documents.near_dup_frac": ("abs", 0.005),
    "documents.en_frac": ("abs", 0.05),
    "embeddings.norm_err": ("abs", 1e-6),
    "events.days": ("abs", 0.1),
    "events.value_mean": ("rel", 0.03),
    "skew.events_user": ("rel", 0.15),
    "skew.orders_cust": ("rel", 0.15),
    "skew.lineitem_order": ("rel", 0.15),
    "skew.lineitem_supp": ("rel", 0.15),
}


def _top_over_mean(keys: pd.Series) -> float:
    counts = keys.value_counts()
    return float(counts.iloc[0] / counts.mean())


def shape(frames: dict[str, pd.DataFrame]) -> dict[str, float]:
    """The figures that decide what the text, dedup, corpus, simsearch and
    join families cost, measured on a set of tables."""
    docs, ev = frames["documents"], frames["events"]
    tokens = docs["text"].str.split()
    lens = tokens.str.len()
    texts = set(docs["text"])
    near = sum(1 for t in docs["text"] if t.rsplit(" ", 1)[0] in texts)
    emb = np.stack(frames["embeddings"]["embedding"].to_numpy())
    out: dict[str, float] = {f"rows.{t}": len(df) for t, df in frames.items()}
    out.update(
        {
            "documents.tokens_min": int(lens.min()),
            "documents.tokens_max": int(lens.max()),
            "documents.tokens_mean": float(lens.mean()),
            "documents.vocabulary": len({w for ws in tokens for w in ws}),
            "documents.exact_dup_frac": 1 - docs["text"].nunique() / len(docs),
            "documents.near_dup_frac": near / len(docs),
            "documents.en_frac": float((docs["lang"] == "en").mean()),
            "embeddings.dim": emb.shape[1],
            "embeddings.norm_err": float(np.abs(np.linalg.norm(emb, axis=1) - 1).max()),
            "embeddings.labels": int(frames["embeddings"]["label"].nunique()),
            "events.users": int(ev["user_id"].nunique()),
            "events.days": float((ev["ts"].max() - ev["ts"].min()) / pd.Timedelta(days=1)),
            "events.value_mean": float(ev["value"].mean()),
            "skew.events_user": _top_over_mean(ev["user_id"]),
            "skew.orders_cust": _top_over_mean(frames["orders"]["o_custkey"]),
            "skew.lineitem_order": _top_over_mean(frames["lineitem"]["l_orderkey"]),
            "skew.lineitem_supp": _top_over_mean(frames["lineitem"]["l_suppkey"]),
        }
    )
    return out


def shape_mismatches(got: dict[str, float], want: dict[str, float]) -> list[str]:
    """Figures of ``got`` outside ``SHAPE_TOLERANCE`` of ``want``."""
    bad = []
    for name, expected in want.items():
        kind, slack = SHAPE_TOLERANCE.get(name, ("abs", 0))
        limit = slack * abs(expected) if kind == "rel" else slack
        if name not in got or abs(got[name] - expected) > limit:
            bad.append(f"{name}: {got.get(name)} vs measured {expected}")
    return bad

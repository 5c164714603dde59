"""Deterministic synthetic transcript + lookup generation.

The engine's primary input is a table of multi-turn conversation/agent
transcripts: (conv_id, turn_idx, role, text, tool, ts). The ``text`` column
carries template-embedded markers that play the role of the reference's OTLP
protobuf payloads (reference: modules/kafka/processor/processor.go:58-86
decodes wire bytes; here the "wire format" is the marker grammar below):

    trace=<32-hex> span=<16-hex> [parent=<16-hex>]      span identity
    call:<tool>(...) status=OK|ERROR dur=<float>ms       tool-call ≈ span
    TRACE|DEBUG|INFO|WARN|ERROR|FATAL                    severity text token
    severity_number=<n>                                  OTLP numeric severity
    metric:<name>=<double>                               metric sample

Everything is seeded and derived from row indices — no wall clock, no
unseeded randomness (the reference's own non-deterministic ID bug at
processor.go:362 is the cautionary citation). Conversation lengths are
Zipf-skewed so a few very long conversations skew the ordering window.

Generation is fully vectorized (numpy + pandas string ops); parquet is
written via pyarrow and cached under ``.data/`` keyed by (n_turns, seed).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_PROBS = np.array([0.40, 0.40, 0.05, 0.15])
TOOLS = np.array(["search", "bash", "editor", "browser", "none"])
TOOL_PROBS = np.array([0.30, 0.25, 0.20, 0.10, 0.15])
SEV_TOKENS = np.array(["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"])
SEV_PROBS = np.array([0.05, 0.15, 0.45, 0.20, 0.10, 0.05])
SEV_NUMBERS = np.array([1, 5, 9, 13, 17, 21])
METRIC_NAMES = np.array(["latency", "tokens", "cost", "queue_depth"])
FILLER = np.array(
    [
        "analyzing the request and planning next steps",
        "here is the summary you asked for",
        "running the requested command now",
        "the result looks correct to me",
        "let me check the previous output",
        "I found an issue in the configuration",
        "continuing with the next step of the plan",
        "the data has been written to the table",
    ]
)

EPOCH_MS = 1735689600000  # 2025-01-01T00:00:00Z, fixed origin for ts

DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".data")


def _hex_array(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    """n lowercase hex strings of `width` chars, vectorized (no per-row loops)."""
    nibbles = rng.integers(0, 16, size=(n, width))
    lut = np.array(list("0123456789abcdef"))
    return np.frombuffer(
        lut[nibbles].astype("U1").tobytes(), dtype=f"U{width}"
    ).copy()


def synth_transcripts_pandas(n_turns: int = 60_000, seed: int = 42) -> pd.DataFrame:
    """Build the transcript table as pandas (Arrow-friendly dtypes)."""
    rng = np.random.default_rng(seed)

    # Zipf-skewed turn counts: most convs short, a heavy tail of very long ones.
    conv_lens: list[int] = []
    total = 0
    while total < n_turns:
        ln = min(int(rng.zipf(1.6)) * 4, 4000)
        ln = max(ln, 2)
        conv_lens.append(ln)
        total += ln
    conv_lens[-1] -= total - n_turns
    # the trim can't zero the last conv: total < n_turns held before the
    # final append, so the excess (total - n_turns) is strictly < its length
    assert conv_lens[-1] > 0
    n = sum(conv_lens)
    lens = np.array(conv_lens)
    conv_ordinal = np.repeat(np.arange(len(lens)), lens)
    conv_id = np.char.add("conv-", np.char.zfill(conv_ordinal.astype("U8"), 8))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    turn_idx = (np.arange(n) - np.repeat(starts, lens)).astype(np.int32)

    role = rng.choice(ROLES, size=n, p=ROLE_PROBS)
    tool = rng.choice(TOOLS, size=n, p=TOOL_PROBS)
    # 'none' tool → NULL column value (nullable join key, exercises the
    # left-join miss → "unknown" default, reference processor.go:101-103)
    tool_series = pd.Series(tool, dtype="object")
    tool_series[tool == "none"] = None

    # Marker draws
    has_span = rng.random(n) < 0.35  # turn describes a span / tool call
    has_parent = has_span & (rng.random(n) < 0.5)
    sev_kind = rng.random(n)  # <0.5 text token, <0.75 numeric, else none
    has_metric = rng.random(n) < 0.15
    call_err = rng.random(n) < 0.12

    trace_hex = _hex_array(rng, n, 32)
    span_hex = _hex_array(rng, n, 16)
    parent_hex = _hex_array(rng, n, 16)
    sev_tok = rng.choice(SEV_TOKENS, size=n, p=SEV_PROBS)
    sev_num = rng.choice(SEV_NUMBERS, size=n)
    metric_name = rng.choice(METRIC_NAMES, size=n)
    metric_val = np.round(rng.random(n) * 1000, 3)
    dur = np.round(rng.gamma(2.0, 25.0, size=n), 3)
    filler = rng.choice(FILLER, size=n)

    # Assemble text vectorized: filler + optional marker fragments.
    text = pd.Series(filler, dtype="object")
    span_frag = pd.Series(np.char.add(np.char.add(" trace=", trace_hex), np.char.add(" span=", span_hex)))
    span_frag = span_frag.where(~has_parent, span_frag + pd.Series(np.char.add(" parent=", parent_hex)))
    call_tool = pd.Series(np.where(tool == "none", "noop", tool))
    status = np.where(call_err, "ERROR", "OK")
    call_frag = (
        " call:" + call_tool + "(arg) status=" + pd.Series(status) + " dur=" + pd.Series(dur.astype("U16")) + "ms"
    )
    text = text.where(~has_span, text + span_frag + call_frag)
    sev_frag_tok = pd.Series(np.char.add(" ", sev_tok))
    sev_frag_num = pd.Series(np.char.add(" severity_number=", sev_num.astype("U2")))
    text = text.where(~(sev_kind < 0.5), text + sev_frag_tok)
    text = text.where(~((sev_kind >= 0.5) & (sev_kind < 0.75)), text + sev_frag_num)
    metric_frag = " metric:" + pd.Series(metric_name) + "=" + pd.Series(metric_val.astype("U16"))
    text = text.where(~has_metric, text + metric_frag)

    # ts: monotone per conversation — global step + per-turn offset keeps
    # (conv_id, turn_idx) order aligned with event time.
    step_ms = np.repeat(starts, lens) * 1000 + turn_idx.astype(np.int64) * 1000
    # datetime64[us]: Spark's parquet reader rejects TIMESTAMP(NANOS)
    ts = pd.to_datetime(EPOCH_MS + step_ms, unit="ms", utc=True).tz_localize(None).astype("datetime64[us]")

    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text.astype("object"),
            "tool": tool_series,
            "ts": ts,
        }
    )


def synth_service_lookup() -> list[dict]:
    """Broadcast-side lookup: (tool, role) → service_name + resource attrs.

    Analog of OTLP resource-attribute discovery (reference:
    processor.go:94-103). Deliberately leaves (browser, system) unmapped to
    exercise the left-join miss → service "unknown" default.
    """
    rows = []
    for tool in ["search", "bash", "editor", "browser"]:
        for role in ["user", "assistant", "system", "tool"]:
            if tool == "browser" and role == "system":
                continue  # the deliberate gap
            rows.append(
                {
                    "tool": tool,
                    "role": role,
                    "service_name": f"svc-{tool}",
                    "resource_attrs": json.dumps(
                        {"deployment.environment": "prod", "service.team": f"team-{role}", "source": "resource"},
                        sort_keys=True,
                        separators=(",", ":"),
                    ),
                }
            )
    return rows


def service_lookup_pandas() -> pd.DataFrame:
    return pd.DataFrame(synth_service_lookup())


def load_or_synth_transcripts(n_turns: int = 60_000, seed: int = 42) -> str:
    """Materialize transcripts to a cached parquet path; return the path."""
    os.makedirs(DATA_DIR, exist_ok=True)
    path = os.path.join(DATA_DIR, f"transcripts_n{n_turns}_s{seed}.parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = synth_transcripts_pandas(n_turns, seed)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        # ~100k-row row groups: big enough for scan efficiency, small enough
        # that local[32] gets parallel splits at bench scale.
        # tmp + os.replace: a crash mid-write must not leave a truncated
        # file at the cache path — the existence check above would then
        # serve the torn parquet to every future run.
        tmp = path + f".tmp.{os.getpid()}"
        pq.write_table(table, tmp, row_group_size=100_000)
        os.replace(tmp, path)
    return path

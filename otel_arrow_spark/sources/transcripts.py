"""Deterministic synthetic transcript table generator (FIXTURES.md §1-§3).

Schema (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

The ``text`` column embeds three parseable template families — the analog of
the formats parsed by the reference's syslog/CEF receiver
(crates/core-nodes/src/receivers/syslog_cef_receiver/parser/mod.rs:46-104:
RFC3164 / RFC5424 / CEF auto-detection):

1. severity line:   ``<LEVEL> [component] message words...``
2. tool-call line:  ``CALL tool=<name> args_len=<i> status=<s> dur_ms=<i>``
3. span line:       ``span trace=<32hex> span=<16hex> event=<w.w>``

plus a seeded ~5% unparseable fraction (empty / free text / multi-line),
the analog of the reference's UnknownFormat handling (parser/mod.rs:41-43)
and chaos-decoding tests (docs/validation_process.md:37-45).

Skew: ``conv-00000000`` receives ~10% of all turns (FIXTURES.md §6) to
exercise the aggregate's hot-key path.

Everything is vectorized numpy/pandas and fully deterministic (seed=42,
fixed epoch, no wall-clock).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

EPOCH = np.datetime64("2026-01-01T00:00:00", "us")

SEVERITY_LEVELS = ["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL"]
# OTel Appendix-B severity numbers, as mapped by the reference
# (parser/parsed_message.rs:426-436): TRACE=1 DEBUG=5 INFO=9 WARN=13
# ERROR=17 FATAL=21.
SEVERITY_NUMBERS = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

COMPONENTS = ["planner", "executor", "memory", "router", "io", "net", "auth", "cache"]
WORDS = (
    "alpha beta gamma delta request response token stream batch merge "
    "window retry commit flush probe agent turn state value shard"
).split()
STATUSES = ["ok", "error", "timeout"]
TOOL_NAMES = [f"tool_{k:02d}" for k in range(32)]
ROLES = ["user", "assistant", "system", "tool"]
ROLE_WEIGHTS = [0.40, 0.40, 0.05, 0.15]


def transcripts_schema():
    """Spark StructType for the transcript table."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            # NTZ: pyarrow writes tz-naive timestamps, which Spark's parquet
            # reader surfaces as TIMESTAMP_NTZ — the stream schema must
            # match or stream/batch parity breaks on the ts column.
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )


def role_dict_rows() -> list[tuple]:
    """FIXTURES.md §3 role dictionary: (role, role_class, is_human)."""
    return [
        ("user", "interactive", True),
        ("assistant", "model", False),
        ("system", "control", False),
        ("tool", "automated", False),
    ]


def tool_dict_rows() -> list[tuple]:
    """FIXTURES.md §3 tool dictionary: (tool, tool_family, risk_tier, owner)."""
    families = ["search", "code", "file", "web"]
    tiers = ["low", "medium", "high"]
    return [
        (TOOL_NAMES[k], families[k % 4], tiers[k % 3], f"team_{k % 5}")
        for k in range(32)
    ]


def _conv_assignment(n_turns: int, rng: np.random.RandomState) -> tuple[np.ndarray, np.ndarray]:
    """Assign each turn to a conversation; return (conv_ordinal, turn_idx).

    ~10% of turns go to conversation 0 (the Zipf head); the rest are spread
    over ``n_turns // 20`` conversations with geometric-ish length variety.
    turn_idx is dense 0..len-1 within each conversation, ordered by global
    position (so ts is monotone per conversation).
    """
    n_hot = max(1, n_turns // 10)
    n_convs = max(2, n_turns // 20)
    # Per-turn conversation ordinal for the cold turns: low ordinals get
    # more turns (Zipf-ish) via a power-law transform of a uniform draw.
    u = rng.random_sample(n_turns - n_hot)
    cold = 1 + np.floor((n_convs - 1) * u**1.5).astype(np.int64)
    conv = np.concatenate([np.zeros(n_hot, dtype=np.int64), cold])
    # Shuffle so hot-conv turns interleave with the rest (stable given seed).
    perm = rng.permutation(n_turns)
    conv = conv[perm]
    # Dense per-conversation turn index in global order.
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    boundary = np.concatenate([[True], sorted_conv[1:] != sorted_conv[:-1]])
    group_start = np.maximum.accumulate(np.where(boundary, np.arange(n_turns), 0))
    within = np.arange(n_turns) - group_start
    turn_idx = np.empty(n_turns, dtype=np.int64)
    turn_idx[order] = within
    return conv, turn_idx.astype(np.int32)


def _hex_array(rng: np.random.RandomState, n: int, nchars: int) -> np.ndarray:
    """Vectorized lowercase-hex strings of length nchars."""
    digits = np.array(list("0123456789abcdef"))
    idx = rng.randint(0, 16, size=(n, nchars))
    return np.array(["".join(row) for row in digits[idx]], dtype=object)


def generate_transcripts_pandas(
    n_turns: int, seed: int = 42, conv_base: int = 0
) -> pd.DataFrame:
    """Generate the transcript table as a pandas DataFrame (vectorized).

    ``conv_base`` offsets conversation ordinals so independently generated
    chunks (parallel datagen) use disjoint conversation id ranges, keeping
    ``(conv_id, turn_idx)`` dense within every conversation.
    """
    rng = np.random.RandomState(seed)
    conv, turn_idx = _conv_assignment(n_turns, rng)
    conv = conv + conv_base
    conv_id = pd.Series(conv).map(lambda c: f"conv-{c:08d}").to_numpy(dtype=object)

    role = rng.choice(ROLES, size=n_turns, p=ROLE_WEIGHTS)

    # Template family: 0=severity 1=tool-call 2=span 3=junk (~5%).
    fam = rng.choice(np.arange(4), size=n_turns, p=[0.45, 0.25, 0.25, 0.05])
    # Tool turns always carry a tool-call line so role/tool stay coherent.
    fam = np.where(role == "tool", 1, fam)

    sev = rng.choice(
        SEVERITY_LEVELS, size=n_turns, p=[0.10, 0.20, 0.45, 0.13, 0.09, 0.03]
    )
    comp = rng.choice(COMPONENTS, size=n_turns)
    nwords = rng.randint(3, 40, size=n_turns)
    word_pick = rng.randint(0, len(WORDS), size=(n_turns, 40))
    wordmat = np.array(WORDS, dtype=object)[word_pick]
    msg = np.array(
        [" ".join(wordmat[i, : nwords[i]]) for i in range(n_turns)], dtype=object
    )

    tool_pick = np.array(TOOL_NAMES, dtype=object)[rng.randint(0, 32, size=n_turns)]
    args_len = rng.randint(0, 5000, size=n_turns)
    status = rng.choice(STATUSES, size=n_turns, p=[0.8, 0.15, 0.05])
    dur_ms = rng.randint(1, 30000, size=n_turns)

    trace_id = _hex_array(rng, n_turns, 32)
    span_id = _hex_array(rng, n_turns, 16)
    ev_a = rng.choice(WORDS, size=n_turns)
    ev_b = rng.choice(COMPONENTS, size=n_turns)

    junk_kind = rng.randint(0, 3, size=n_turns)

    s = pd.Series(msg, dtype=object)
    text_sev = pd.Series(sev, dtype=object) + " [" + pd.Series(comp, dtype=object) + "] " + s
    text_call = (
        "CALL tool="
        + pd.Series(tool_pick, dtype=object)
        + " args_len="
        + pd.Series(args_len).astype(str)
        + " status="
        + pd.Series(status, dtype=object)
        + " dur_ms="
        + pd.Series(dur_ms).astype(str)
    )
    text_span = (
        "span trace="
        + pd.Series(trace_id, dtype=object)
        + " span="
        + pd.Series(span_id, dtype=object)
        + " event="
        + pd.Series(ev_a, dtype=object)
        + "."
        + pd.Series(ev_b, dtype=object)
    )
    text_junk = pd.Series(
        np.where(junk_kind == 0, "", np.where(junk_kind == 1, msg, "free\nform\n" + msg)),
        dtype=object,
    )
    text = (
        text_sev.where(fam == 0, text_call)
        .where(fam <= 1, text_span)
        .where(fam <= 2, text_junk)
    )

    # tool column: populated on tool-call turns, null otherwise (FIXTURES §1).
    tool_col = pd.Series(np.where(fam == 1, tool_pick, None), dtype=object)

    # ts: epoch + per-conv offset (1h per ordinal, wrapped) + turn spacing
    # with seeded jitter. Monotone in turn_idx within a conversation.
    conv_offset_us = (conv % 10_000) * 3_600_000_000
    step_us = 1_000_000 + (conv % 97) * 10_000
    jitter_us = rng.randint(0, 1_000_000, size=n_turns)
    ts = EPOCH + (conv_offset_us + turn_idx.astype(np.int64) * step_us + jitter_us).astype(
        "timedelta64[us]"
    )

    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": pd.Series(role, dtype=object),
            "text": text,
            "tool": tool_col,
            "ts": ts,
        }
    )


def _write_chunk(args: tuple) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir, i, n, seed, conv_base = args
    pdf = generate_transcripts_pandas(n, seed=seed + i, conv_base=conv_base)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    path = os.path.join(out_dir, f"part-{i:05d}.parquet")
    # small row groups so Spark's scan can split each file into many
    # input partitions (1 row group == 1 indivisible split unit)
    pq.write_table(table, path, row_group_size=62_500)
    return path


def write_transcripts_parquet(
    out_dir: str, n_turns: int, seed: int = 42, chunk: int = 500_000
) -> str:
    """Write the generated table as parquet files under ``out_dir``.

    ``n_turns <= chunk`` → one deterministic frame (the corpus used by all
    golden tests). Larger corpora are generated as independent deterministic
    chunks (seed+i, disjoint conversation ranges) in a process pool — the
    10^12-turn analog would be this exact generator run as a Spark job.
    Idempotent via a (n_turns, seed) marker file.
    """
    marker = os.path.join(out_dir, f"_SUCCESS.{n_turns}.{seed}")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    if n_turns <= chunk:
        _write_chunk((out_dir, 0, n_turns, seed, 0))
    else:
        from multiprocessing import Pool

        sizes = [chunk] * (n_turns // chunk) + (
            [n_turns % chunk] if n_turns % chunk else []
        )
        jobs = [
            (out_dir, i, n, seed, i * (chunk // 20 + 1)) for i, n in enumerate(sizes)
        ]
        with Pool(min(len(jobs), os.cpu_count() or 8)) as pool:
            pool.map(_write_chunk, jobs)
    with open(marker, "w") as f:
        f.write("ok")
    return out_dir

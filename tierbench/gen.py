"""Seeded transcript generator for the tier-engine benchmark.

The benchmark owns its inputs: this module, not the program, decides what
a workload feeds the engine, so a change to the program cannot silently
change the inputs.  The shape follows the engine's transcript schema
(``conv_id, turn_idx, role, text, tool, ts``) and its fixture conventions:

* conversation lengths are 5..SHORT_MAX turns, except 1% "hot"
  conversations of SHORT_MAX..HOT_LEN turns, which decide shuffle skew and
  straggler cost;
* turns follow a 15 s cadence with 0..12 s of jitter (less than the
  cadence, so turn order is time order) and a 15-minute hole every 40 turns;
* every seventh turn or so is a tool call; other turns alternate user and
  assistant;
* a turn's text is ``"turn <i> of <conv_id>: "`` followed by 1..200 words.

Everything comes from ``numpy.random.default_rng(seed)``: the same seed
gives byte-identical tables.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
SHORT_MAX = 40  # turns of an ordinary conversation: 5..SHORT_MAX
HOT_LEN = 2000  # turns of a hot conversation: SHORT_MAX..HOT_LEN
HOT_FRAC = 0.01

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split()
TOOLS = ("search", "calculator", "browser", "python", "sql", "files", "email", "weather")

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)

_CORPUS_WORDS = 1 << 20


def transcripts(seed: int, n_convs: int, span_s: int) -> pa.Table:
    """One table of transcripts, sorted by ``ts``, every turn within
    ``span_s`` seconds of ``EPOCH_S``."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(5, SHORT_MAX + 1, n_convs)
    # a fixed count of hot conversations with evenly spread lengths: seeds
    # move which conversations are hot, not how much skew there is
    n_hot = round(HOT_FRAC * n_convs)
    hot_lens = SHORT_MAX + ((np.arange(n_hot) + 0.5) / max(n_hot, 1) * (HOT_LEN - SHORT_MAX)).astype(int)
    lens[rng.choice(n_convs, n_hot, replace=False)] = rng.permutation(hot_lens)
    # every conversation ends inside the span, so the share of turns in hot
    # conversations does not depend on where the span cuts them
    last_s = (lens - 1) * 15 + 12 + ((lens - 1) // 40) * 900
    start = (rng.random(n_convs) * (span_s - last_s)).astype(np.int64)
    n = int(lens.sum())
    conv = np.repeat(np.arange(n_convs), lens)
    first = np.repeat(np.cumsum(lens) - lens, lens)
    turn = np.arange(n) - first

    is_tool = rng.random(n) < 1 / 7
    role = np.where(is_tool, 2, turn % 2)  # 0 user, 1 assistant, 2 tool
    tool = np.where(is_tool, rng.integers(0, len(TOOLS), n), -1)
    jitter = rng.integers(0, 13, n)
    ts_s = EPOCH_S + start[conv] + turn * 15 + jitter + (turn // 40) * 900

    # each text body is a window of a seeded random word stream: string
    # slicing keeps generation to ~1 us per turn
    words = rng.integers(0, len(WORDS), _CORPUS_WORDS)
    stream = " ".join(WORDS[w] for w in words)
    wlen = np.fromiter((len(WORDS[w]) + 1 for w in words), np.int64, _CORPUS_WORDS)
    wstart = np.concatenate(([0], np.cumsum(wlen)))
    wc = rng.integers(1, 201, n)
    w0 = rng.integers(0, _CORPUS_WORDS - 200, n)
    lo = wstart[w0]
    hi = wstart[w0 + wc] - 1
    ids = [f"c{i:08d}" for i in range(n_convs)]
    text = [
        f"turn {t} of {ids[c]}: {stream[a:b]}"
        for t, c, a, b in zip(turn.tolist(), conv.tolist(), lo.tolist(), hi.tolist())
    ]

    order = np.argsort(ts_s * n_convs + conv, kind="stable")
    roles = np.array(["user", "assistant", "tool"], dtype=object)
    tools = np.array(list(TOOLS) + [None], dtype=object)
    return pa.table(
        {
            "conv_id": pa.array(np.array(ids, dtype=object)[conv[order]], pa.string()),
            "turn_idx": pa.array(turn[order].astype(np.int32)),
            "role": pa.array(roles[role[order]], pa.string()),
            "text": pa.array(np.array(text, dtype=object)[order], pa.string()),
            "tool": pa.array(tools[tool[order]], pa.string()),
            "ts": pa.array(ts_s[order] * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def describe(tbl: pa.Table) -> dict:
    """Turn, conversation and byte counts printed with every run."""
    return {
        "turns": tbl.num_rows,
        "convs": len(tbl.column("conv_id").unique()),
        "text_bytes": int(pc.sum(pc.binary_length(tbl.column("text"))).as_py()),
        "arrow_bytes": int(tbl.nbytes),
    }


def split_by_time(tbl: pa.Table, edges_us: list[int]) -> list[pa.Table]:
    """Cut a ts-sorted table at the given microsecond edges (arrival files)."""
    ts = tbl.column("ts").combine_chunks().cast(pa.int64()).to_numpy()
    cuts = np.searchsorted(ts, edges_us)
    bounds = [0, *cuts.tolist(), tbl.num_rows]
    return [tbl.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]

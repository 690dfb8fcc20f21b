"""Independent answers the benchmark checks the engine against.

Tier sums come from pandas over the generated turns, never from a tier
the engine wrote: 1h and 1d are rolled straight from the turns, not
cascaded from 1m.  Committed tiers are read with pyarrow from the files the
table's current snapshot lists.  Composite rows are checked against the
pure-NumPy reference kernel ``hdstats_oracle.nangeomedian``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CHANNELS = [
    "turn_rate",
    "tokens_user",
    "tokens_assistant",
    "tokens_tool",
    "chars_user",
    "chars_assistant",
    "chars_tool",
    "tool_calls",
]
KEYS = ["conv_id", "bucket"]
WIDTH = {"1m": "min", "1h": "h", "1d": "D"}
WIDTH_S = {"1m": 60, "1h": 3600, "1d": 86400}
GM_MAXITERS = 20  # the tier's composite config (TierPipeline, stream sink)


def turn_channels(tbl: pa.Table) -> pd.DataFrame:
    """Per-turn measures: whitespace tokens, characters, tool flag."""
    text = tbl.column("text")
    df = pd.DataFrame(
        {
            "conv_id": tbl.column("conv_id").to_numpy(),
            "ts": tbl.column("ts").to_pandas(),
            "role": tbl.column("role").to_numpy(),
            # generated text is single-spaced with no outer blanks
            "tokens": pc.add(pc.count_substring(text, " "), 1).to_numpy(),
            "chars": pc.utf8_length(text).to_numpy(),
            "tool": pc.is_valid(tbl.column("tool")).to_numpy().astype(np.int64),
        }
    )
    out = df[["conv_id", "ts"]].copy()
    out["turn_rate"] = 1
    for role in ("user", "assistant", "tool"):
        m = (df["role"] == role).to_numpy()
        out[f"tokens_{role}"] = np.where(m, df["tokens"], 0)
        out[f"chars_{role}"] = np.where(m, df["chars"], 0)
    out["tool_calls"] = df["tool"]
    return out[["conv_id", "ts", *CHANNELS]]


def rollup(turns: pd.DataFrame, tier: str) -> pd.DataFrame:
    b = turns["ts"].dt.floor(WIDTH[tier])
    out = turns.assign(bucket=b).groupby(KEYS, sort=True)[CHANNELS].sum().reset_index()
    out[CHANNELS] = out[CHANNELS].astype(np.int64)
    return out


def tiers(tbl: pa.Table) -> dict[str, pd.DataFrame]:
    t = turn_channels(tbl)
    return {tier: rollup(t, tier) for tier in WIDTH}


def table_files(root: str) -> list[str]:
    """Data files of the table's current snapshot (no engine read path)."""
    from hdstats_spark.icelite import IceliteTable

    snap = IceliteTable(root).snapshot()
    return [
        f if os.path.isabs(f) else os.path.join(root, f)
        for m in snap.partitions.values()
        for f in m["files"]
    ]


def read_table(root: str, columns: list[str]) -> pd.DataFrame:
    tbl = pq.ParquetDataset(table_files(root)).read(columns=columns)
    return tbl.to_pandas()


def bytes_stored(root: str) -> int:
    return sum(os.path.getsize(f) for f in table_files(root))


def us(col: pd.Series) -> np.ndarray:
    """Timestamps as UTC epoch microseconds (Spark hands back naive UTC)."""
    if col.dt.tz is not None:
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return col.astype("datetime64[us]").to_numpy().view("int64")


def closed(df: pd.DataFrame, tier: str, watermark_us: int) -> pd.DataFrame:
    """Rows whose bucket ends at or before the watermark."""
    return df[us(df["bucket"]) + WIDTH_S[tier] * 1_000_000 <= watermark_us]


def diff_tier(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two tiers hold exactly the same rows."""
    g = got[KEYS + CHANNELS].sort_values(KEYS).reset_index(drop=True)
    w = want[KEYS + CHANNELS].sort_values(KEYS).reset_index(drop=True)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    if not (g["conv_id"].to_numpy() == w["conv_id"].to_numpy()).all():
        return "conv_id keys differ"
    if not (us(g["bucket"]) == us(w["bucket"])).all():
        return "bucket keys differ"
    bad = (g[CHANNELS].to_numpy(np.int64) != w[CHANNELS].to_numpy(np.int64)).any(axis=1)
    if bad.any():
        return f"{int(bad.sum())} rows with different channel sums"
    return None


def series(m1: pd.DataFrame, conv: str) -> np.ndarray:
    """One conversation's 1m series as the kernel sees it: (p, n) float32."""
    g = m1[m1["conv_id"] == conv].sort_values("bucket")
    return g[CHANNELS].to_numpy(np.float32).T


def check_composite(gm: pd.DataFrame, m1: pd.DataFrame, convs: list[str]) -> list[str]:
    """Composite rows of ``convs`` against the reference kernel."""
    import hdstats_oracle

    errs = []
    byc = gm.set_index("conv_id")
    for c in convs:
        X = series(m1, c)
        if c not in byc.index:
            errs.append(f"gm: no row for {c}")
            continue
        row = byc.loc[c]
        if int(row["n"]) != X.shape[1]:
            errs.append(f"gm: {c} n={int(row['n'])}, expected {X.shape[1]}")
            continue
        if X.shape[1] < 3:  # the oracle switches to nanmedian below 3
            continue
        want = hdstats_oracle.nangeomedian(X, maxiters=GM_MAXITERS)
        got = row[[f"gm_{ch}" for ch in CHANNELS]].to_numpy(np.float32)
        if not np.allclose(got, want, rtol=1e-4, atol=1e-4):
            errs.append(f"gm: {c} differs from nangeomedian")
    return errs


def composite_sample(m1: pd.DataFrame, rng: np.random.Generator, k: int = 12) -> list[str]:
    """``k`` conversations: the longest few (hot) plus a seeded draw."""
    n = m1.groupby("conv_id").size().sort_values(ascending=False)
    hot = list(n.index[:3])
    rest = n.index[3:].to_numpy()
    pick = rng.choice(rest, size=min(k - len(hot), len(rest)), replace=False)
    return hot + [str(c) for c in pick]


def check_cold(decoded: pd.DataFrame, hot_1m: pd.DataFrame) -> str | None:
    """Cold decode equals the hot 1m tier (channels stored as float32)."""
    d = decoded.assign(bucket=us(decoded["bucket"])).sort_values(KEYS).reset_index(drop=True)
    h = hot_1m.assign(bucket=us(hot_1m["bucket"])).sort_values(KEYS).reset_index(drop=True)
    if len(d) != len(h):
        return f"cold: {len(d)} rows, hot 1m has {len(h)}"
    if not (d["conv_id"].to_numpy() == h["conv_id"].to_numpy()).all():
        return "cold: conv_id keys differ"
    if not (d["bucket"].to_numpy() == h["bucket"].to_numpy()).all():
        return "cold: bucket keys differ"
    want = h[CHANNELS].to_numpy(np.float32).astype(np.float64)
    if not np.array_equal(d[CHANNELS].to_numpy(np.float64), want):
        return "cold: channel values differ"
    return None

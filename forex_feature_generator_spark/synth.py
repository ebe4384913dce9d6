"""Deterministic synthetic inputs (FIXTURES.md F1/F2), seed=42.

F1 `ticks`:     (source, seq, ts, bid, ask)  — per-source strictly-increasing ts,
                irregular 0.1–30 s gaps, random-walk bid with jump/spike paths.
F2 `sequences`: (doc_id, tokens, n_tok, source) — north-rule input_hint shape,
                Zipf-skewed sources, tokens pass-through invariant.

Pure numpy/pandas so both the oracle (no Spark) and the engine tests share the
exact same bytes.  Reference input shape: Timestamp,Bid,Ask CSV
(/root/reference/Pipeline/TickLoader.cs:92-115) extended with the graft's
`source` entity key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPOCH = np.datetime64("2024-01-02T00:00:00", "us")
PIP = 1e-4


def gen_ticks(
    n_sources: int = 8,
    ticks_per_source: int = 50_000,
    hot_sources: int = 2,
    hot_factor: int = 10,
    seed: int = 42,
    mean_gap_s: float = 6.0,
) -> pd.DataFrame:
    """Multi-source tick table. Hot sources get `hot_factor`x tick density
    (same wall-clock span, denser ticks) to exercise skew handling."""
    rng = np.random.default_rng(seed)
    frames = []
    for s in range(n_sources):
        hot = s < hot_sources
        n = ticks_per_source * (hot_factor if hot else 1)
        # Irregular gaps: lognormal around mean_gap_s (scaled down for hot sources
        # so hot sources cover a similar wall-clock span with 10x the ticks).
        gap_mean = mean_gap_s / (hot_factor if hot else 1)
        gaps = rng.lognormal(mean=np.log(gap_mean), sigma=0.9, size=n)
        gaps = np.clip(gaps, 0.1, 30.0)
        # occasional dead minutes (empty-bar edge cases)
        dead = rng.random(n) < 0.0005
        gaps = gaps + dead * rng.uniform(60, 240, size=n)
        ts_us = (np.cumsum(gaps) * 1e6).astype("int64")
        ts = EPOCH + ts_us.astype("timedelta64[us]")

        # bid random walk, step sigma ~ 1 pip, occasional 10-pip jumps
        steps = rng.normal(0.0, PIP, size=n)
        jumps = (rng.random(n) < 0.001) * rng.choice([-1.0, 1.0], size=n) * 10 * PIP
        bid = 1.10 + np.cumsum(steps + jumps)
        bid = np.round(bid, 6)

        # spread 0.5..3 pips, occasional 10x spikes
        spread = rng.uniform(0.5 * PIP, 3 * PIP, size=n)
        spike = rng.random(n) < 0.002
        spread = np.where(spike, spread * 10, spread)
        ask = np.round(bid + spread, 6)

        frames.append(
            pd.DataFrame(
                {
                    "source": f"src{s:02d}",
                    "seq": np.arange(n, dtype="int64"),
                    "ts": ts,
                    "bid": bid,
                    "ask": ask,
                }
            )
        )
    df = pd.concat(frames, ignore_index=True)
    return df


def gen_sequences(
    n_sources: int = 16,
    n_rows: int = 20_000,
    seed: int = 42,
    vocab: int = 50_258,
    max_len: int = 512,
    min_len: int = 8,
) -> pd.DataFrame:
    """North-rule tokenized-sequence table (doc_id, tokens, n_tok, source).

    Zipf-skewed source sizes (largest source ~30% of rows). doc_id is a
    zero-padded monotone id per source; a derived event time is
    EPOCH + row_index minutes (used for window specs)."""
    rng = np.random.default_rng(seed)
    # Zipf-ish source allocation
    weights = 1.0 / np.arange(1, n_sources + 1) ** 1.1
    weights /= weights.sum()
    counts = np.maximum(1, (weights * n_rows).astype(int))
    rows = []
    for s, cnt in enumerate(counts):
        lens = rng.integers(min_len, max_len + 1, size=cnt)
        for i in range(cnt):
            toks = rng.integers(0, vocab, size=lens[i], dtype=np.int32)
            rows.append(
                (
                    f"s{s:02d}-{i:09d}",
                    toks,
                    np.int32(lens[i]),
                    f"seqsrc{s:02d}",
                    i,
                )
            )
    df = pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source", "row_idx"])
    df["ts"] = EPOCH + (df["row_idx"].to_numpy() * 60_000_000).astype("timedelta64[us]")
    return df.drop(columns=["row_idx"])

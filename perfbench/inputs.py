"""Seeded benchmark inputs. Everything the engine reads is written here, once
per run and outside every timed window; the same seed gives the same bytes.

* tick corpora in the CLI's documented input schema (source, ts, bid, ask),
  one parquet file per source, no `seq` column;
* the tokenized-sequence table (doc_id, tokens, n_tok, source), one parquet
  file per source.

The query workload reads fixed tables instead (queries.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.oracle.bars import aggregate_bars
from forex_feature_generator_spark.oracle.pipeline import WARMUP_BARS


# --------------------------------------------------------------------------
# ticks
# --------------------------------------------------------------------------

def skewed_ticks(seed: int, n_sources: int, ticks: int) -> pd.DataFrame:
    """`n_sources` sources: src00 is dense (10x ticks over the same span, so
    the same bar count), the last one is long (10x ticks at normal density,
    so about 10x the bars), the rest are ordinary."""
    body = synth.gen_ticks(n_sources=n_sources - 1, ticks_per_source=ticks,
                           hot_sources=1, hot_factor=10, seed=seed)
    long = synth.gen_ticks(n_sources=1, ticks_per_source=10 * ticks,
                           hot_sources=0, seed=seed + 7919)
    long["source"] = f"src{n_sources - 1:02d}"
    return pd.concat([body, long], ignore_index=True)


def write_ticks(df: pd.DataFrame, out_dir: str) -> str:
    """One parquet file per source in the CLI schema (source, ts, bid, ask);
    ts is written as a UTC instant."""
    os.makedirs(out_dir, exist_ok=True)
    for src, g in df.groupby("source", sort=True):
        g = g[["source", "ts", "bid", "ask"]].copy()
        g["ts"] = g["ts"].dt.tz_localize("UTC")
        g.to_parquet(os.path.join(out_dir, f"{src}.parquet"), index=False)
    return out_dir


def expected_feature_rows(df: pd.DataFrame) -> dict[str, int]:
    """Emission rows per source: M1 bars past the warm-up (oracle bars)."""
    out = {}
    for src, g in df.groupby("source", sort=True):
        ts_us = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        n_bars = len(aggregate_bars(ts_us, g["bid"].to_numpy(),
                                    g["ask"].to_numpy(), 1))
        out[src] = max(0, n_bars - WARMUP_BARS)
    return out


# --------------------------------------------------------------------------
# tokenized sequences
# --------------------------------------------------------------------------

def sequences(seed: int, n_sources: int, n_rows: int) -> pd.DataFrame:
    """Zipf-skewed sources; the input_hint shape (doc_id, tokens, n_tok,
    source)."""
    return synth.gen_sequences(n_sources=n_sources, n_rows=n_rows,
                               seed=seed).drop(columns=["ts"])


def write_sequences(df: pd.DataFrame, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("n_tok", pa.int32()),
                        ("source", pa.string())])
    for src, g in df.groupby("source", sort=True):
        tbl = pa.Table.from_pandas(g, schema=schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(out_dir, f"{src}.parquet"))
    return out_dir

"""Spark bar aggregation vs the sequential oracle (BarAggregator semantics)."""

import numpy as np
import pandas as pd

from forex_feature_generator_spark.engine import bars as ebars
from forex_feature_generator_spark.oracle import bars as obars


def oracle_bars_df(ticks: pd.DataFrame, tf: int) -> pd.DataFrame:
    rows = []
    for source, g in ticks.groupby("source", sort=True):
        g = g.sort_values("seq")
        ts_us = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        for k, b in enumerate(obars.aggregate_bars(
                ts_us, g["bid"].to_numpy(), g["ask"].to_numpy(), tf)):
            rows.append((source, b.ts_us, b.open, b.high, b.low, b.close,
                         b.tick_volume, b.up, b.down, b.avg_spread,
                         b.max_spread, b.min_spread, b.completion_idx, k))
    return pd.DataFrame(rows, columns=[
        "source", "bar_ts_us", "open", "high", "low", "close", "tick_volume",
        "up", "down", "avg_spread", "max_spread", "min_spread",
        "completion_seq", "bar_index"])


def test_bars_match_oracle(spark, small_ticks):
    sdf = spark.createDataFrame(small_ticks)
    for tf in (1, 5):
        got = (ebars.aggregate_bars(sdf, tf)
               .orderBy("source", "bar_ts_us").toPandas())
        exp = oracle_bars_df(small_ticks, tf).sort_values(
            ["source", "bar_ts_us"]).reset_index(drop=True)
        assert len(got) == len(exp), f"tf={tf}: {len(got)} vs {len(exp)}"
        for c in ["source", "bar_ts_us", "tick_volume", "up", "down",
                  "completion_seq", "bar_index"]:
            assert (got[c].to_numpy() == exp[c].to_numpy()).all(), f"tf={tf} col={c}"
        for c in ["open", "high", "low", "close", "max_spread", "min_spread"]:
            np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy(),
                                          err_msg=f"tf={tf} col={c}")
        np.testing.assert_allclose(got["avg_spread"], exp["avg_spread"],
                                   rtol=1e-12, atol=1e-15)


def _py_market_state(vol, high, low):
    """Transcription of FeaturePipeline.cs:176-197 over a chronological bar
    list: state at bar t uses the latest 20 bars ending at t; the averages
    take the 19 most recent (current included, oldest excluded)."""
    out = []
    for t in range(len(vol)):
        if t < 19:
            out.append("Normal")
            continue
        cur_v, cur_r = vol[t], high[t] - low[t]
        vs = vol[t - 18:t + 1]
        rs = [h - l for h, l in zip(high[t - 18:t + 1], low[t - 18:t + 1])]
        av, ar = sum(vs) / 19.0, sum(rs) / 19.0
        if cur_v > av * 2 or cur_r > ar * 2:
            out.append("HighActivity")
        elif cur_v < av * 0.5 and cur_r < ar * 0.5:
            out.append("LowActivity")
        else:
            out.append("Normal")
    return out


def test_market_state(spark, small_ticks):
    sdf = spark.createDataFrame(small_ticks)
    m5 = ebars.aggregate_bars(sdf, 5)
    got = (ebars.market_state(m5)
           .orderBy("source", "bar_ts_us")
           .select("source", "bar_ts_us", "market_state").toPandas())
    states = set(got["market_state"])
    assert states <= {"Normal", "HighActivity", "LowActivity"}
    for src, g in got.groupby("source"):
        bars = (m5.filter(m5.source == src)
                .orderBy("bar_ts_us").toPandas())
        exp = _py_market_state(bars["tick_volume"].tolist(),
                               bars["high"].tolist(), bars["low"].tolist())
        assert list(g["market_state"]) == exp, src


"""The halo-chunked builder's results must not depend on the chunk size:
chunk_bars=10**9 makes every source one chunk, 137, 300 and 620 (= the M1
halo) cut each source into halo-carrying chunks (north-rule property:
partitioning/chunking invariance). Exact equality, NaN-aware. Also guards
the builder's plan shape: one grouped-map Python boundary, one join."""

import re

import numpy as np
import pandas as pd
import pytest

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.engine import skew as eskew
from forex_feature_generator_spark.oracle import pipeline as opipe
from forex_feature_generator_spark.oracle.labels import LabelConfig

CHUNK_SIZES = (137, 300, eskew.M1_HALO, 10**9)
US_PER_MIN = 60_000_000


def _run_all_chunk_sizes(spark, sdf, label_cfg=None):
    return [eskew.run_pipeline_salted(spark, sdf, chunk_bars=c,
                                      label_cfg=label_cfg)
            .orderBy("source", "ts_us").toPandas()
            for c in CHUNK_SIZES]


def _assert_identical(runs):
    ref = runs[-1]
    for chunk_bars, got in zip(CHUNK_SIZES, runs):
        assert len(got) == len(ref), chunk_bars
        for c in ["source", "ts_us", "timestamp", "label", *opipe.FEATURE_NAMES]:
            a, b = got[c].to_numpy(), ref[c].to_numpy()
            same = (np.array_equal(a, b, equal_nan=True) if a.dtype.kind == "f"
                    else np.array_equal(a, b))
            assert same, (chunk_bars, c)


@pytest.mark.parametrize("seed,label_cfg", [
    (17, None),
    (5, None),
    # a label horizon longer than the default 600 ticks: the chunks' label
    # halo must follow max_future_ticks
    (17, LabelConfig(max_future_ticks=2000, trigger_pips=30)),
], ids=["seed17", "seed5", "seed17-long-horizon"])
def test_chunk_size_invariance(spark, seed, label_cfg):
    ticks = synth.gen_ticks(n_sources=2, ticks_per_source=15000, hot_sources=1,
                            hot_factor=2, seed=seed, mean_gap_s=6.0)
    sdf = spark.createDataFrame(ticks)
    conf_key = "spark.sql.analyzer.failAmbiguousSelfJoin"
    conf_before = spark.conf.get(conf_key)
    runs = _run_all_chunk_sizes(spark, sdf, label_cfg)
    # the self-join heuristic override is scoped to the plan construction —
    # no session-global conf mutation survives the run
    assert spark.conf.get(conf_key) == conf_before == "true"
    assert len(runs[-1]) > 1000
    _assert_identical(runs)


def _minute_ticks(source: str, minutes: np.ndarray,
                  rng: np.random.Generator) -> pd.DataFrame:
    """1-5 ticks inside each given minute (offsets from synth.EPOCH), a
    random-walk bid: one completed M1 bar per minute but the last."""
    per = rng.integers(1, 6, size=len(minutes))
    minute = np.repeat(minutes, per)
    sec = np.concatenate([np.sort(rng.choice(60, k, replace=False))
                          for k in per])
    ts_us = minute * US_PER_MIN + sec * 1_000_000
    bid = np.round(1.1 + np.cumsum(rng.normal(0, synth.PIP, len(ts_us))), 6)
    ask = np.round(bid + rng.uniform(0.5, 3, len(ts_us)) * synth.PIP, 6)
    return pd.DataFrame({"source": source,
                         "seq": np.arange(len(ts_us), dtype="int64"),
                         "ts": synth.EPOCH + ts_us.astype("timedelta64[us]"),
                         "bid": bid, "ask": ask})


def _edge_corpus():
    """Sources that hit the membership arithmetic's edges. Returns the ticks
    and the emission rows each source must produce."""
    rng = np.random.default_rng(3)
    frames, want = [], {}
    # missing minutes (M5 buckets hold 1-4 M1 bars) and one 5-hour gap,
    # starting mid-bucket so no chunk edge is bound to an M5 edge; over
    # 620 M5 bars, so the early M5 bars' ranges end at lead(L, 620)
    keep = np.arange(3, 7003)[rng.random(7000) < 0.6]
    keep = np.where(keep > 3000, keep + 300, keep)
    frames.append(_minute_ticks("gappy", keep, rng))
    want["gappy"] = len(keep) - 1 - 260
    # completed-bar counts k*C - 1, k*C, k*C + 1 for each chunk size: the
    # last halo rows spill into chunks past the source's end (phantom
    # groups). Minutes start on an M5 edge, so every chunk edge of C = 300
    # and C = 620, and C = 137's edge at 685, falls on an M5 bucket edge.
    # 3100 bars hold exactly 620 M5 bars with 5 M1 bars each: no M5 bar has
    # a lead, and the last chunks need the full 5*620 + 5 reach.
    for n in (410, 411, 412, 599, 600, 601, 684, 685, 686, 3099, 3100, 3101):
        frames.append(_minute_ticks(f"n{n}", np.arange(n + 1), rng))
        want[f"n{n}"] = n - 260
    # shorter than the 260-bar warm-up: emits nothing
    frames.append(_minute_ticks("short", np.arange(201), rng))
    want["short"] = 0
    return pd.concat(frames, ignore_index=True), want


def test_membership_edges(spark):
    ticks, want = _edge_corpus()
    runs = _run_all_chunk_sizes(spark, spark.createDataFrame(ticks))
    for chunk_bars, got in zip(CHUNK_SIZES, runs):
        counts = got["source"].value_counts()
        assert {s: int(counts.get(s, 0)) for s in want} == want, chunk_bars
    _assert_identical(runs)


def _plan_counts(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return {"cogroup": plan.count("FlatMapCoGroupsInPandas"),
            "rdd": plan.count("ExistingRDD"),
            "join": len(re.findall(r"\w*Join\b", plan))}


def test_plan_shape(spark, tmp_path):
    """One cogroup computes features and labels; only the bucketed tick
    join is left, and no RDD round trip."""
    path = str(tmp_path / "ticks")
    synth.gen_ticks(n_sources=2, ticks_per_source=3000, seed=11).to_parquet(path)
    ticks = spark.read.parquet(path)
    for df in (eskew.run_pipeline_salted(spark, ticks),
               eskew.label_table(spark, ticks)):
        counts = _plan_counts(df)
        assert counts["cogroup"] == 1 and counts["rdd"] == 0, counts
        assert counts["join"] <= 1, counts
    spark.catalog.clearCache()

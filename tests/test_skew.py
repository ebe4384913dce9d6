"""The halo-chunked builder's results must not depend on the chunk size:
chunk_bars=10**9 makes every source one chunk, 137 and 300 cut each source
into halo-carrying chunks (north-rule property: partitioning/chunking
invariance). Exact equality, NaN-aware."""

import numpy as np
import pytest

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.engine import skew as eskew
from forex_feature_generator_spark.oracle import pipeline as opipe
from forex_feature_generator_spark.oracle.labels import LabelConfig

CHUNK_SIZES = (137, 300, 10**9)


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
    runs = [eskew.run_pipeline_salted(spark, sdf, chunk_bars=c,
                                      label_cfg=label_cfg)
            .orderBy("source", "ts_us").toPandas()
            for c in CHUNK_SIZES]
    # the self-join heuristic override is scoped to the plan construction —
    # no session-global conf mutation survives the run
    assert spark.conf.get(conf_key) == conf_before == "true"
    ref = runs[-1]
    assert len(ref) > 1000
    for chunk_bars, got in zip(CHUNK_SIZES, runs):
        assert len(got) == len(ref), chunk_bars
        for c in ["source", "ts_us", "timestamp", "label", *opipe.FEATURE_NAMES]:
            a, b = got[c].to_numpy(), ref[c].to_numpy()
            same = (np.array_equal(a, b, equal_nan=True) if a.dtype.kind == "f"
                    else np.array_equal(a, b))
            assert same, (chunk_bars, c)

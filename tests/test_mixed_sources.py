"""Mixed-size sources: a source below warm-up must contribute nothing (and
not break the chunked path's empty-result schema)."""

import pandas as pd

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.engine import skew as eskew


def test_tiny_source_is_skipped_everywhere(spark):
    big = synth.gen_ticks(n_sources=1, ticks_per_source=3400, hot_sources=0, seed=7)
    small = synth.gen_ticks(n_sources=1, ticks_per_source=300, hot_sources=0, seed=8)
    small["source"] = "tiny"
    ticks = pd.concat([big, small], ignore_index=True)
    sdf = spark.createDataFrame(ticks)
    out1 = eskew.run_pipeline_salted(spark, sdf).orderBy("ts_us").toPandas()
    out2 = eskew.run_pipeline_salted(spark, sdf, chunk_bars=200).orderBy("ts_us").toPandas()
    assert len(out1) > 100
    assert "tiny" not in set(out1["source"]) and "tiny" not in set(out2["source"])
    assert len(out1) == len(out2)
    assert (out1["label"].to_numpy() == out2["label"].to_numpy()).all()

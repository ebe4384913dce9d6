"""Full Spark pipeline vs the oracle: allclose features, exact labels and
timestamps (the BASELINE.md correctness gate, end to end through Spark)."""

import numpy as np

from forex_feature_generator_spark.engine import skew as eskew
from forex_feature_generator_spark.oracle import pipeline as opipe
from tests.test_features_parity import LOOSE, RTOL, ATOL


def test_e2e_matches_oracle(spark, small_ticks):
    oracle = opipe.run_multi_source(small_ticks)
    sdf = spark.createDataFrame(small_ticks)
    got = eskew.run_pipeline_salted(spark, sdf).toPandas()

    o = oracle.sort_values(["source", "ts_us"]).reset_index(drop=True)
    g = got.sort_values(["source", "ts_us"]).reset_index(drop=True)
    assert len(g) == len(o)
    assert (g["ts_us"].to_numpy() == o["ts_us"].to_numpy()).all()
    assert (g["timestamp"].to_numpy() == o["timestamp"].to_numpy()).all()
    assert (g["label"].to_numpy() == o["label"].to_numpy()).all()

    bad = []
    for c in opipe.FEATURE_NAMES:
        rtol, atol = LOOSE.get(c, (RTOL, ATOL))
        if not np.allclose(g[c].to_numpy(), o[c].to_numpy(), rtol=rtol, atol=atol):
            d = np.abs(g[c].to_numpy() - o[c].to_numpy())
            bad.append((c, float(np.nanmax(d))))
    assert not bad, f"feature mismatches: {bad}"


def test_partitioning_invariance(spark, small_ticks):
    """Results identical under different partition counts (north-rule
    property test: partitioning must not change window/as-of results)."""
    sdf1 = spark.createDataFrame(small_ticks).repartition(1)
    sdf8 = spark.createDataFrame(small_ticks).repartition(8, "source")
    a = (eskew.run_pipeline_salted(spark, sdf1).orderBy("source", "ts_us")
         .toPandas())
    b = (eskew.run_pipeline_salted(spark, sdf8).orderBy("source", "ts_us")
         .toPandas())
    assert len(a) == len(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.array_equal(av, bv, equal_nan=True), c
        else:
            assert (av == bv).all(), c

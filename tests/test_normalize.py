"""Stats + normalization engine vs the oracle transcription."""

import numpy as np

from forex_feature_generator_spark.engine import normalize as enorm
from forex_feature_generator_spark.engine import skew as eskew
from forex_feature_generator_spark.oracle import pipeline as opipe
from forex_feature_generator_spark.oracle import stats as ostats


def test_stats_and_normalize(spark, small_ticks):
    oracle_rows = opipe.run_multi_source(small_ticks)
    feature_cols = opipe.FEATURE_NAMES

    sdf = spark.createDataFrame(small_ticks)
    out = eskew.run_pipeline_salted(spark, sdf)
    out = out.persist()

    est = enorm.compute_stats(out).set_index("feature")
    ost = ostats.collect_stats(oracle_rows, feature_cols).set_index("feature")
    for c in feature_cols:
        assert est.loc[c, "count"] == ost.loc[c, "count"], c
        for k in ("mean", "stddev", "min", "max", "q1", "median", "q3", "iqr"):
            np.testing.assert_allclose(est.loc[c, k], ost.loc[c, k],
                                       rtol=1e-7, atol=1e-10, err_msg=f"{c}.{k}")

    got_norm = (enorm.normalize(out, est.reset_index())
                .orderBy("source", "ts_us").toPandas())
    exp_norm = ostats.normalize(
        oracle_rows.sort_values(["source", "ts_us"]).reset_index(drop=True),
        ost.reset_index(), feature_cols)
    for c in feature_cols:
        np.testing.assert_allclose(got_norm[c].to_numpy(), exp_norm[c].to_numpy(),
                                   rtol=1e-7, atol=1e-9, err_msg=c)
    # label/timestamp copied untouched
    assert (got_norm["label"].to_numpy() == exp_norm["label"].to_numpy()).all()
    assert (got_norm["timestamp"].to_numpy() == exp_norm["timestamp"].to_numpy()).all()

    # the 100-TB size gate: the approx_percentile path must agree within the
    # sketch's rank-error bound and drive normalization end-to-end
    apx = enorm.compute_stats(
        out, exact_quantiles=False).set_index("feature")
    for c in feature_cols:
        lo, hi = ost.loc[c, "min"], ost.loc[c, "max"]
        span = max(hi - lo, 1e-12)
        for k in ("q1", "median", "q3"):
            assert abs(apx.loc[c, k] - ost.loc[c, k]) <= 0.05 * span, (c, k)
    assert enorm.normalize(out, apx.reset_index()).count() == out.count()
    out.unpersist()

"""Stats + normalization engine vs the oracle transcription."""

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from forex_feature_generator_spark.engine import normalize as enorm
from forex_feature_generator_spark.engine import skew as eskew
from forex_feature_generator_spark.oracle import pipeline as opipe
from forex_feature_generator_spark.oracle import stats as ostats


def test_stats_and_normalize(spark, small_ticks, monkeypatch):
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
    monkeypatch.setattr(enorm, "EXACT_QUANTILE_MAX_ROWS", 0)
    apx = enorm.compute_stats(out).set_index("feature")
    for c in feature_cols:
        lo, hi = ost.loc[c, "min"], ost.loc[c, "max"]
        span = max(hi - lo, 1e-12)
        for k in ("q1", "median", "q3"):
            assert abs(apx.loc[c, k] - ost.loc[c, k]) <= 0.05 * span, (c, k)
    assert enorm.normalize(out, apx.reset_index()).count() == out.count()
    out.unpersist()


PROBS = [0.0, 0.1, 0.25, 1 / 3, 0.5, 0.75, 0.9, 1.0]
GROUPS = {
    "ties": [3.0, 1.0, 1.0, None, 2.0, 2.0, 2.0, 7.5, None, 2.0],
    "one": [4.25],
    "two": [-1.0, 2.0],
    "spread": [float(x) for x in
               np.random.default_rng(3).normal(size=37).round(6)],
    "nulls": [None, None],
}


def _groups_frame(spark):
    rows = [(g, x) for g, xs in GROUPS.items() for x in xs]
    return spark.createDataFrame(rows, "g string, x double")


def test_quantiles_frame_exact(spark):
    """The rank-pick equals F.percentile bit for bit and np.percentile
    (linear) to rounding: per group and over the whole frame, with ties,
    NULLs, one- and two-row groups and an all-NULL group."""
    df = _groups_frame(spark)
    got = {r["g"]: r for r in enorm.quantiles_frame(
        df, "x", PROBS, df.count(), by=["g"],
        aggs=[F.count("x").alias("n")]).collect()}
    ref = {r["g"]: r["p"] for r in df.groupBy("g").agg(
        F.percentile("x", F.lit(PROBS)).alias("p")).collect()}
    assert set(got) == set(GROUPS)
    for g, xs in GROUPS.items():
        vals = [x for x in xs if x is not None]
        assert got[g]["n"] == len(vals), g
        assert got[g]["cuts"] == ref[g], g
        if vals:
            np.testing.assert_allclose(
                got[g]["cuts"], np.percentile(vals, [p * 100 for p in PROBS],
                                              method="linear"),
                rtol=1e-12, atol=1e-12, err_msg=g)
        else:
            assert got[g]["cuts"] is None

    whole = enorm.quantiles_frame(df, "x", PROBS, df.count(),
                                  aggs=[F.count("x").alias("n")]).collect()
    vals = [x for xs in GROUPS.values() for x in xs if x is not None]
    assert len(whole) == 1 and whole[0]["n"] == len(vals)
    assert whole[0]["cuts"] == df.agg(
        F.percentile("x", F.lit(PROBS))).first()[0]
    np.testing.assert_allclose(
        whole[0]["cuts"], np.percentile(vals, [p * 100 for p in PROBS],
                                        method="linear"),
        rtol=1e-12, atol=1e-12)


def test_quantiles_frame_sketch_branch(spark, monkeypatch):
    """Above the size gate the same frame shape comes from
    approx_percentile: each cut is a value of the group within one rank of
    the exact position (the sketch's error bound is far below one rank at
    this size)."""
    df = _groups_frame(spark)
    monkeypatch.setattr(enorm, "EXACT_QUANTILE_MAX_ROWS", 0)
    got = {r["g"]: r for r in enorm.quantiles_frame(
        df, "x", PROBS, df.count(), by=["g"],
        aggs=[F.count("x").alias("n")]).collect()}
    assert set(got) == set(GROUPS)
    for g, xs in GROUPS.items():
        vals = sorted(x for x in xs if x is not None)
        assert got[g]["n"] == len(vals), g
        if not vals:
            assert got[g]["cuts"] is None, g
            continue
        for p, c in zip(PROBS, got[g]["cuts"]):
            pos = p * (len(vals) - 1)
            near = vals[max(0, math.floor(pos) - 1):math.ceil(pos) + 2]
            assert c in near, (g, p, c)


def test_compute_stats_edge_columns(spark):
    """All 148 features on 4 rows, one column with no finite value, one
    constant column and one with a single finite value: compute_stats
    equals oracle/stats.collect_stats, row for row."""
    names = opipe.FEATURE_NAMES
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(rng.normal(size=(4, len(names))), columns=names)
    pdf[names[0]] = [np.nan, np.inf, -np.inf, np.nan]
    pdf[names[1]] = 2.5
    pdf[names[2]] = [np.nan, 1.25, np.inf, np.nan]
    pdf[names[3]] = [np.nan, -np.inf, 7.0, 3.0]
    est = enorm.compute_stats(spark.createDataFrame(pdf))
    ost = ostats.collect_stats(pdf, names)
    assert list(est.columns) == list(ost.columns)
    assert list(est["feature"]) == names
    assert (est["count"].to_numpy() == ost["count"].to_numpy()).all()
    for k in ("mean", "stddev", "min", "max", "q1", "median", "q3", "iqr"):
        np.testing.assert_allclose(est[k].to_numpy(dtype="float64"),
                                   ost[k].to_numpy(dtype="float64"),
                                   rtol=1e-7, atol=1e-10, err_msg=k)

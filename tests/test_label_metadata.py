"""Full LabelResult metadata parity: the vectorized kernel's optional
metadata output (engine/labels.py) vs the line-faithful oracle transcription
of LabelGenerator.cs DetermineLabel (oracle/labels.py)."""

import numpy as np

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.engine.labels import compute_labels
from forex_feature_generator_spark.oracle.labels import (LabelConfig,
                                                         generate_label_result)

FIELDS = ["label", "confidence", "long_profit_pips", "short_profit_pips",
          "mae_pips", "mfe_pips", "time_to_target", "risk_reward",
          "quality_score"]


def test_label_metadata_parity():
    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=6000, seed=23)
    bid = ticks["bid"].to_numpy("float64")
    ask = ticks["ask"].to_numpy("float64")
    n = len(bid)
    cfg = LabelConfig()
    # dense interior coverage + the tail (k < 10 -> neutral all-zero result)
    entries = np.concatenate([np.arange(50, n - 650, 37),
                              np.arange(n - 15, n - 1)]).astype("int64")
    got = compute_labels(entries, bid, ask, cfg, return_metadata=True)
    assert list(got.columns) == FIELDS
    n_nonzero = 0
    for i, e in enumerate(entries):
        fut_b = bid[e + 1:e + 1 + cfg.max_future_ticks]
        fut_a = ask[e + 1:e + 1 + cfg.max_future_ticks]
        exp = generate_label_result(cfg, bid[e], ask[e], fut_b, fut_a)
        for f in FIELDS:
            assert np.isclose(got.iloc[i][f], exp[f], rtol=1e-9, atol=1e-12), (
                int(e), f, float(got.iloc[i][f]), exp[f])
        n_nonzero += exp["label"] != 0
    assert n_nonzero > 3          # the corpus must exercise non-neutral paths


def test_label_table_spark(spark):
    """The standalone Spark label surface carries the metadata columns and
    agrees with the fused pipeline's persisted label."""
    from forex_feature_generator_spark.engine.skew import (
        label_table, run_pipeline_salted)
    ticks_pdf = synth.gen_ticks(n_sources=2, ticks_per_source=5000, seed=9)
    sdf = spark.createDataFrame(ticks_pdf)
    lt = label_table(spark, sdf).orderBy("source", "ts_us").toPandas()
    full = (run_pipeline_salted(spark, sdf, chunk_bars=137).select("source", "ts_us", "label")
            .orderBy("source", "ts_us").toPandas())
    assert len(lt) == len(full) > 0
    assert (lt["label"].to_numpy() == full["label"].to_numpy()).all()
    assert list(lt.columns) == ["source", "ts_us"] + FIELDS
    assert float(lt["quality_score"].max()) > 0


def test_label_metadata_two_phase_consistency():
    """Rows resolved in the short phase-1 window must carry metadata
    identical to a full-window simulation (chunk boundaries too)."""
    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=9000, seed=5)
    bid = ticks["bid"].to_numpy("float64")
    ask = ticks["ask"].to_numpy("float64")
    entries = np.arange(10, 8000, 11).astype("int64")
    a = compute_labels(entries, bid, ask, chunk=256, return_metadata=True)
    b = compute_labels(entries, bid, ask, chunk=4096, return_metadata=True)
    for f in FIELDS:
        assert np.allclose(a[f].to_numpy("float64"), b[f].to_numpy("float64"),
                           rtol=0, atol=0), f

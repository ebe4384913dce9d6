"""Slow full-window parity: long single-source series so BOTH the M1 anchor
slides (t >= 499) and the M5 window fills past 500 bars — the regime the
short fixtures cannot reach. Run explicitly via
`pytest tests/test_slow_parity.py` (included in the default suite; ~30 s)."""

import numpy as np

from forex_feature_generator_spark import synth
from forex_feature_generator_spark.engine import features as efeat
from forex_feature_generator_spark.oracle import pipeline as opipe
from tests.test_bars import oracle_bars_df
from tests.test_features_parity import LOOSE, RTOL, ATOL


def test_full_window_parity():
    # ~3850 minutes -> ~3800 M1 bars (sliding anchors), ~770 M5 bars (>500)
    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=27000, hot_sources=0,
                            seed=3, mean_gap_s=6.0)
    oracle = opipe.run_multi_source(ticks)
    m1 = oracle_bars_df(ticks, 1).assign(source="src00")
    m5 = oracle_bars_df(ticks, 5).assign(source="src00")
    got = efeat.compute_features_pdf(m1, m5)

    o = oracle.sort_values("ts_us").reset_index(drop=True)
    g = got.sort_values("ts_us").reset_index(drop=True)
    assert len(o) == len(g) > 3000
    assert (o["ts_us"].to_numpy() == g["ts_us"].to_numpy()).all()
    bad = []
    for c in opipe.FEATURE_NAMES:
        rtol, atol = LOOSE.get(c, (RTOL, ATOL))
        if not np.allclose(g[c].to_numpy(), o[c].to_numpy(), rtol=rtol, atol=atol):
            bad.append((c, float(np.nanmax(np.abs(g[c].to_numpy() - o[c].to_numpy())))))
    assert not bad, bad


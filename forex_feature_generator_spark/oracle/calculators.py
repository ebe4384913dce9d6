"""Feature-calculator oracle — line-faithful transcription of the 7 reference
calculators (/root/reference/Features/**), including the load-bearing quirks:

  * reversed windows: GetHistoricalBars returns most-recent-first
    (BarAggregator.cs:123-134) and FeaturePipeline passes
    currentIndex = bars.Count-1 (FeaturePipeline.cs:133) — every calculator
    anchors on the OLDEST bar of the trailing <=500-bar window, and
    bars[currentIndex - k] is the bar k steps LATER in chronological time.
  * CalculateEMA's recursion loop never runs (BaseCalculator.cs:183-186 starts
    at currentIndex+1), so EMA(p) == SMA of the p anchored closes (or the
    anchored close when index < p-1).
  * swapped-argument bugs: MachineLearningFeatures.CalculateRSI/CalculateADX and
    PositionFeatures.CalculateRSI are called with (bars, currentIndex, 14) against
    signatures (bars, period, currentIndex) — RSI is always 50, ADX always 0
    (MachineLearningFeatures.cs:289,262,336; PositionFeatures.cs:135,197,311).
  * per-emission ring buffers (add-before-read vs add-after-read per site).

`bars` below is ALWAYS the reversed list (index 0 = most recent), exactly as in
the C#; the oracle pipeline builds it per emission.
"""

from __future__ import annotations

import math

import numpy as np

np.seterr(all="ignore")

from .bars import Bar, RollingWindow  # noqa: E402


# ===== C#-style double arithmetic helpers =====

def fdiv(a: float, b: float) -> float:
    """C# double division: b == 0 -> +-Inf or NaN, never raises."""
    if b == 0.0:
        if a == 0.0 or math.isnan(a):
            return math.nan
        return math.inf if a > 0 else -math.inf
    return a / b


def fexp(x: float) -> float:
    if x > 709.0:
        return math.inf
    if x < -745.0:
        return 0.0
    return math.exp(x)


def flog(x: float) -> float:
    if x < 0.0 or math.isnan(x):
        return math.nan
    if x == 0.0:
        return -math.inf
    return math.log(x)


def sign(x: float) -> int:
    return (x > 0) - (x < 0)


# ===== BaseCalculator toolbox (BaseCalculator.cs) =====

def z_score(value, mean, std):
    if std < 1e-10:
        return 0.0
    return (value - mean) / std


def percentile_rank(value, values):
    if len(values) == 0:
        return 50.0
    count = sum(1 for v in values if v < value)
    return count / len(values) * 100.0


def momentum_quality(values):
    if len(values) < 2:
        return 0.0
    consistent = 0
    ref = sign(values[0] - values[1])
    for i in range(1, len(values)):
        if sign(values[i] - values[i - 1]) == ref:
            consistent += 1
    return consistent / (len(values) - 1)


def safe_div(num, den, default=0.0):
    if abs(den) < 1e-10 or math.isnan(den):
        return default
    r = fdiv(num, den)
    return default if (math.isnan(r) or math.isinf(r)) else r


def calc_slope(values):
    if len(values) < 2:
        return 0.0
    n = len(values)
    xs = list(range(n))
    sum_x = float(sum(xs))
    sum_y = float(sum(values))
    sum_xy = float(sum(x * y for x, y in zip(xs, values)))
    sum_x2 = float(sum(x * x for x in xs))
    return safe_div(n * sum_xy - sum_x * sum_y, n * sum_x2 - sum_x * sum_x)


def calc_atr(bars, current_index, period):
    s = 0.0
    for i in range(current_index - period + 1, current_index + 1):
        tr = max(bars[i].high - bars[i].low,
                 abs(bars[i].high - bars[i - 1].close),
                 abs(bars[i].low - bars[i - 1].close))
        s += tr
    return s / period


def calc_sma(bars, current_index, period):
    s = 0.0
    for i in range(current_index - period + 1, current_index + 1):
        s += bars[i].close
    return s / period


def calc_ema(bars, current_index, period):
    # BaseCalculator.cs:168-189 — the recursive loop is dead code; this is the
    # SMA of the p closes ending at current_index (anchored), or raw close.
    if current_index < period - 1:
        return bars[current_index].close
    ema = 0.0
    for i in range(current_index - period + 1, current_index + 1):
        ema += bars[i].close
    return ema / period


def calc_stddev(bars, current_index, period):
    mean = calc_sma(bars, current_index, period)
    ss = 0.0
    for i in range(current_index - period + 1, current_index + 1):
        d = bars[i].close - mean
        ss += d * d
    return math.sqrt(ss / period)


def normalize_range(value, lo, hi):
    if hi - lo < 1e-10:
        return 0.0
    return 2 * (value - lo) / (hi - lo) - 1


def sigmoid(x, steepness=1.0):
    return 2.0 / (1.0 + fexp(-steepness * x)) - 1.0


def add_feature(out: dict, name: str, value) -> None:
    """FeatureVector.AddFeature NaN/Inf hygiene (FeatureVector.cs:37-47)."""
    v = float(value)
    if math.isnan(v) or math.isinf(v):
        out[name] = 0.0
    else:
        out[name] = v


# ======================================================================
# 1) DirectionalFeatures — M1, priority 1 (DirectionalFeatures.cs)
# ======================================================================

class DirectionalFeatures:
    name = "Directional"
    timeframe = 1
    priority = 1

    def calculate(self, out, bars, ci):
        if ci < 50:
            return
        bar = bars[ci]
        close = bar.close

        add_feature(out, "01_dir_momentum_z5", self._momentum_z(bars, ci, 5))
        add_feature(out, "01_dir_momentum_z10", self._momentum_z(bars, ci, 10))
        add_feature(out, "01_dir_momentum_accel", self._momentum_accel(bars, ci))
        add_feature(out, "01_dir_momentum_quality", self._momentum_quality_score(bars, ci))
        add_feature(out, "01_dir_candle_direction", candle_direction(bar))
        add_feature(out, "01_dir_pattern_strength", self._multi_bar_pattern(bars, ci))
        add_feature(out, "01_dir_price_position", self._price_position(bars, ci, 20))
        add_feature(out, "01_dir_volume_direction", volume_direction(bars[ci]))
        add_feature(out, "01_dir_volume_pressure", self._volume_pressure(bars, ci))
        add_feature(out, "01_dir_vol_mom_correlation", self._vol_mom_corr(bars, ci))
        add_feature(out, "01_dir_trend_strength", self._trend_strength(bars, ci))
        dm_plus, dm_minus = self._directional_movement(bars, ci)
        add_feature(out, "01_dir_dm_plus", dm_plus)
        add_feature(out, "01_dir_dm_minus", dm_minus)
        add_feature(out, "01_dir_trend_efficiency", self._trend_efficiency(bars, ci, 10))
        add_feature(out, "01_dir_mean_reversion_prob", self._mean_reversion_prob(bars, ci))

    def _momentum_z(self, bars, ci, period):
        momentums = []
        for i in range(ci - 30, ci + 1):
            if i >= period:
                momentums.append(bars[i].close - bars[i - period].close)
        if len(momentums) < 2:
            return 0.0
        cur = bars[ci].close - bars[ci - period].close
        mean = sum(momentums) / len(momentums)
        std = math.sqrt(sum((m - mean) ** 2 for m in momentums) / len(momentums))
        return z_score(cur, mean, std)

    def _momentum_accel(self, bars, ci):
        if ci < 15:
            return 0.0
        m1 = bars[ci].close - bars[ci - 5].close
        m2 = bars[ci - 5].close - bars[ci - 10].close
        m3 = bars[ci - 10].close - bars[ci - 15].close
        return sigmoid(((m1 - m2) - (m2 - m3)) * 10000)

    def _momentum_quality_score(self, bars, ci):
        momentums = [bars[i].close - bars[i - 1].close for i in range(ci - 9, ci + 1)]
        return momentum_quality(momentums)

    def _multi_bar_pattern(self, bars, ci):
        score = 0.0
        weight = 3
        for i in range(ci - 2, ci + 1):
            score += candle_direction(bars[i]) * weight
            weight -= 1
        return sigmoid(score / 6)

    def _price_position(self, bars, ci, period):
        hi = -math.inf
        lo = math.inf
        for i in range(ci - period + 1, ci + 1):
            hi = max(hi, bars[i].high)
            lo = min(lo, bars[i].low)
        return normalize_range(bars[ci].close, lo, hi)

    def _volume_pressure(self, bars, ci):
        buy = 0.0
        sell = 0.0
        for i in range(ci - 9, ci + 1):
            pc = bars[i].close - bars[i].open
            vol = bars[i].tick_volume
            if pc > 0:
                buy += vol * abs(pc)
            else:
                sell += vol * abs(pc)
        total = buy + sell
        if total < 1e-10:
            return 0.0
        return (buy - sell) / total

    def _vol_mom_corr(self, bars, ci):
        pcs = []
        vols = []
        for i in range(ci - 9, ci + 1):
            pcs.append(bars[i].close - bars[i - 1].close)
            vols.append(float(bars[i].tick_volume))
        ap = sum(pcs) / len(pcs)
        av = sum(vols) / len(vols)
        cov = pv = vv = 0.0
        for p, v in zip(pcs, vols):
            cov += (p - ap) * (v - av)
            pv += (p - ap) ** 2
            vv += (v - av) ** 2
        return safe_div(cov, math.sqrt(pv * vv))

    def _trend_strength(self, bars, ci):
        sum_dm = sum_tr = 0.0
        for i in range(ci - 13, ci + 1):
            if i > 0:
                hd = bars[i].high - bars[i - 1].high
                ld = bars[i - 1].low - bars[i].low
                dm = max(0.0, max(hd, ld))
                tr = max(bars[i].high - bars[i].low,
                         abs(bars[i].high - bars[i - 1].close),
                         abs(bars[i].low - bars[i - 1].close))
                sum_dm += dm
                sum_tr += tr
        return min(1.0, safe_div(sum_dm, sum_tr))

    def _directional_movement(self, bars, ci):
        sp = sm = st = 0.0
        for i in range(ci - 13, ci + 1):
            if i > 0:
                hd = bars[i].high - bars[i - 1].high
                ld = bars[i - 1].low - bars[i].low
                if hd > ld and hd > 0:
                    sp += hd
                elif ld > hd and ld > 0:
                    sm += ld
                tr = max(bars[i].high - bars[i].low,
                         abs(bars[i].high - bars[i - 1].close),
                         abs(bars[i].low - bars[i - 1].close))
                st += tr
        return safe_div(sp, st), safe_div(sm, st)

    def _trend_efficiency(self, bars, ci, period):
        direction = abs(bars[ci].close - bars[ci - period].close)
        vol = 0.0
        for i in range(ci - period + 1, ci + 1):
            vol += abs(bars[i].close - bars[i - 1].close)
        return safe_div(direction, vol)

    def _mean_reversion_prob(self, bars, ci):
        sma20 = calc_sma(bars, ci, 20)
        close = bars[ci].close
        deviation = close - sma20
        atr = calc_atr(bars, ci, 14)
        nd = safe_div(deviation, atr)
        if abs(nd) > 2:
            return -sign(nd) * min(1.0, abs(nd) / 3)
        return 0.0


def candle_direction(bar: Bar) -> float:
    body = bar.close - bar.open
    rng = bar.high - bar.low
    if rng < 1e-10:
        return 0.0
    body_ratio = body / rng
    upper = (bar.high - max(bar.open, bar.close)) / rng
    lower = (min(bar.open, bar.close) - bar.low) / rng
    if body_ratio > 0.6 and upper < 0.2:
        return 1.0
    if body_ratio < -0.6 and lower < 0.2:
        return -1.0
    if abs(body_ratio) < 0.3 and lower > 0.6:
        return 0.5
    if abs(body_ratio) < 0.3 and upper > 0.6:
        return -0.5
    return body_ratio


def volume_direction(bar: Bar) -> float:
    total = bar.up + bar.down
    if total < 1e-10:
        return 0.0
    return (bar.up - bar.down) / total


# ======================================================================
# 2) MarketRegimeContextFeatures — M5, priority 2 (MarketRegimeContextFeatures.cs)
# ======================================================================

class MarketRegimeContextFeatures:
    name = "MarketRegimeContext"
    timeframe = 5
    priority = 2

    def __init__(self):
        self._regime_history = RollingWindow(100)   # (regime_type:int,)
        self._volatility_history = RollingWindow(50)

    def calculate(self, out, bars, ci):
        if ci < 50:
            return
        regime_type, regime_conf = self._detect_regime(bars, ci)
        add_feature(out, "02_regime_type", regime_type)
        add_feature(out, "02_regime_confidence", regime_conf)
        add_feature(out, "02_regime_directional_bias",
                    self._regime_bias(regime_type, bars, ci))
        duration, stability = self._regime_stability(regime_type)
        add_feature(out, "02_regime_duration_norm", sigmoid(duration / 20.0))
        add_feature(out, "02_regime_stability", stability)

        current_vol = realized_volatility(bars, ci, 20)
        self._volatility_history.add(current_vol)
        add_feature(out, "02_vol_trend", self._vol_trend())

        alignment, strength = self._mtf_trend(bars, ci)
        add_feature(out, "02_trend_mtf_alignment", alignment)
        add_feature(out, "02_trend_mtf_strength", strength)

        efficiency = kaufman_efficiency(bars, ci, 10)
        add_feature(out, "02_trend_efficiency", efficiency)
        trend_quality = self._trend_quality(bars, ci)
        add_feature(out, "02_trend_quality", trend_quality)
        add_feature(out, "02_cyclical_phase", math.sin(((ci % 20) / 20.0) * 2 * math.pi))
        stress = self._market_stress(bars, ci)
        add_feature(out, "02_market_stress", stress)
        hurst = self._hurst(bars, ci)
        add_feature(out, "02_hurst_exponent", (hurst - 0.5) * 2)
        add_feature(out, "02_regime_momentum",
                    self._adaptive_momentum(bars, ci, regime_type))
        add_feature(out, "02_market_condition_score",
                    regime_conf * 0.2 + trend_quality * 0.3
                    + efficiency * 0.3 + (1 - stress) * 0.2)

        self._regime_history.add(int(regime_type))

    def _detect_regime(self, bars, ci):
        volatility = realized_volatility(bars, ci, 14)
        avg_volatility = realized_volatility(bars, ci, 50)
        efficiency = kaufman_efficiency(bars, ci, 20)
        adx = regime_adx(bars, ci, 14)
        if volatility > avg_volatility * 1.5:
            return 2.0, min(1.0, fdiv(volatility, avg_volatility * 2))
        if adx > 25 and efficiency > 0.3:
            return 1.0, min(1.0, (adx - 20) / 30.0) * efficiency
        return 0.0, 1.0 - efficiency

    def _regime_bias(self, regime_type, bars, ci):
        if regime_type == 1:
            return trend_direction(bars, ci, 20)
        if regime_type == 0:
            sma = calc_sma(bars, ci, 20)
            close = bars[ci].close
            deviation = (close - sma) / sma
            if abs(deviation) > 0.01:
                return -sign(deviation) * min(1.0, abs(deviation) * 100)
            return 0.0
        return 0.0

    def _regime_stability(self, current_regime):
        h = self._regime_history
        if h.count == 0:
            return 1.0, 0.5
        duration = 1
        for snap in h.values():
            if abs(snap - current_regime) < 0.1:
                duration += 1
            else:
                break
        regimes = h.values()[:20]
        avg = sum(regimes) / len(regimes)
        var = sum((r - avg) ** 2 for r in regimes) / len(regimes)
        return float(duration), 1.0 / (1.0 + math.sqrt(var))

    def _vol_trend(self):
        h = self._volatility_history
        if h.count < 10:
            return 0.0
        values = list(reversed(h.values()[:10]))
        return sigmoid(calc_slope(values) * 1000)

    def _mtf_trend(self, bars, ci):
        t5 = trend_direction(bars, ci, 5)
        t20 = trend_direction(bars, ci, 20)
        t50 = trend_direction(bars, ci, 50) if ci >= 50 else t20
        alignment = 0.0
        if sign(t5) == sign(t20) and sign(t20) == sign(t50):
            alignment = float(sign(t5))
        elif sign(t5) == sign(t20):
            alignment = sign(t5) * 0.5
        strength = (abs(t5) + abs(t20) + abs(t50)) / 3
        return alignment, strength

    def _trend_quality(self, bars, ci):
        if ci < 20:
            return 0.5
        up = down = 0
        for i in range(ci - 19, ci + 1):
            if bars[i].close > bars[i].open:
                up += 1
            else:
                down += 1
        consistency = abs(up - down) / 20.0
        smoothness = kaufman_efficiency(bars, ci, 10)
        return (consistency + smoothness) / 2

    def _market_stress(self, bars, ci):
        volatility = realized_volatility(bars, ci, 10)
        avg_volatility = realized_volatility(bars, ci, 50)
        vol_stress = max(0.0, fdiv(volatility - avg_volatility, avg_volatility))
        cur_spread = bars[ci].avg_spread
        avg_spread = 0.0
        for i in range(ci - 19, ci + 1):
            avg_spread += bars[i].avg_spread
        avg_spread /= 20
        spread_stress = max(0.0, fdiv(cur_spread - avg_spread, avg_spread))
        volume_stress = 0.0
        if ci >= 20:
            cur_vol = bars[ci].tick_volume
            avg_vol = 0
            for i in range(ci - 19, ci):
                avg_vol += bars[i].tick_volume
            avg_vol = avg_vol // 19  # C# int division (MarketRegimeContextFeatures.cs:347-351)
            volume_stress = max(0.0, fdiv(float(cur_vol) - avg_vol, avg_vol) - 1)
        return sigmoid((vol_stress * 0.4 + spread_stress * 0.3 + volume_stress * 0.3) * 2)

    def _hurst(self, bars, ci):
        if ci < 50:
            return 0.5
        returns = [flog(fdiv(bars[ci - 50 + i].close, bars[ci - 50 + i - 1].close))
                   for i in range(1, 51)]
        mean = sum(returns) / 50
        cum = []
        acc = 0.0
        for r in returns:
            acc += r - mean
            cum.append(acc)
        rng = max(cum) - min(cum)
        std = math.sqrt(sum((r - mean) ** 2 for r in returns) / 50)
        if std < 1e-10:
            return 0.5
        hurst = flog(rng / std) / flog(50)
        return max(0.0, min(1.0, hurst))

    def _adaptive_momentum(self, bars, ci, regime_type):
        if regime_type == 1:
            momentum = bars[ci].close - bars[ci - 20].close
        elif regime_type == 0:
            momentum = -(bars[ci].close - calc_sma(bars, ci, 10))
        else:
            momentum = bars[ci].close - bars[ci - 5].close
        return sigmoid(momentum * 10000)


def realized_volatility(bars, ci, period):
    if ci < period:
        return 0.0
    s = 0.0
    for i in range(ci - period + 1, ci + 1):
        lr = flog(fdiv(bars[i].close, bars[i - 1].close))
        s += lr * lr
    return math.sqrt((s / period) * 252 * 1440)


def trend_direction(bars, ci, period):
    if ci < period:
        return 0.0
    start = bars[ci - period + 1].close
    end = bars[ci].close
    return sigmoid(fdiv(end - start, start) * 10000)


def kaufman_efficiency(bars, ci, period):
    if ci < period:
        return 0.0
    direction = abs(bars[ci].close - bars[ci - period + 1].close)
    vol = 0.0
    for i in range(ci - period + 2, ci + 1):
        vol += abs(bars[i].close - bars[i - 1].close)
    return safe_div(direction, vol)


def regime_adx(bars, ci, period):
    """MarketRegimeContextFeatures.CalculateADX (correct arg order there)."""
    if ci < period + 1:
        return 0.0
    sp = sm = st = 0.0
    for i in range(ci - period + 1, ci + 1):
        hd = bars[i].high - bars[i - 1].high
        ld = bars[i - 1].low - bars[i].low
        if hd > ld and hd > 0:
            sp += hd
        elif ld > hd and ld > 0:
            sm += ld
        tr = max(bars[i].high - bars[i].low,
                 abs(bars[i].high - bars[i - 1].close),
                 abs(bars[i].low - bars[i - 1].close))
        st += tr
    di_plus = safe_div(sp, st) * 100
    di_minus = safe_div(sm, st) * 100
    return safe_div(abs(di_plus - di_minus), di_plus + di_minus) * 100


# ======================================================================
# 3) MicrostructureOrderFlowFeatures — M1, priority 3
# ======================================================================

class MicrostructureOrderFlowFeatures:
    name = "MicrostructureOrderFlow"
    timeframe = 1
    priority = 3

    def __init__(self):
        self._flow_history = RollingWindow(100)    # net_flow values
        self._spread_history = RollingWindow(50)

    def calculate(self, out, bars, ci):
        if ci < 20:
            return
        bar = bars[ci]
        close = bar.close

        net_flow = float(bar.up - bar.down)
        total_volume = float(bar.up + bar.down)
        flow_imbalance = net_flow / total_volume if total_volume > 0 else 0.0
        add_feature(out, "03_micro_flow_imbalance", flow_imbalance)
        add_feature(out, "03_micro_flow_acceleration", self._flow_accel(net_flow))

        buy_pressure = bar.up / max(1, bar.tick_volume) if bar.up > 0 else 0.0
        sell_pressure = bar.down / max(1, bar.tick_volume) if bar.down > 0 else 0.0
        add_feature(out, "03_micro_buy_pressure", buy_pressure)
        add_feature(out, "03_micro_sell_pressure", sell_pressure)
        add_feature(out, "03_micro_pressure_diff", buy_pressure - sell_pressure)

        volume_spike = self._volume_spike(bar, bars, ci)
        add_feature(out, "03_micro_volume_spike", volume_spike)
        add_feature(out, "03_micro_spike_direction", volume_spike * sign(net_flow))

        spread_bps = bar.avg_spread * 10000 / close
        self._spread_history.add(spread_bps)
        add_feature(out, "03_micro_spread_zscore", self._spread_z(spread_bps))
        add_feature(out, "03_micro_spread_volume_ratio",
                    sigmoid(safe_div(spread_bps, flog(1 + bar.tick_volume)) - 1))

        tick_rate = bar.tick_volume / 60.0
        add_feature(out, "03_micro_tick_intensity", self._tick_intensity(tick_rate, bars, ci))
        add_feature(out, "03_micro_tick_direction",
                    (bar.up - bar.down) / bar.tick_volume if bar.tick_volume > 0 else 0.0)
        add_feature(out, "03_micro_tick_clustering", self._tick_clustering(bars, ci))

        vwap = self._vwap(bars, ci, 20)
        add_feature(out, "03_micro_vwap_deviation",
                    sigmoid(safe_div(close - vwap, vwap) * 10000 / 20))
        add_feature(out, "03_micro_price_efficiency", self._price_efficiency(bars, ci))
        add_feature(out, "03_micro_depth_imbalance", self._depth_imbalance(bar, bars, ci))
        add_feature(out, "03_micro_amihud_illiquidity",
                    sigmoid(self._amihud(bars, ci) * 100))
        add_feature(out, "03_micro_iceberg_pattern", self._iceberg(bars, ci))
        add_feature(out, "03_micro_stop_hunt", self._stop_hunt(bars, ci))

        self._flow_history.add(net_flow)

    def _flow_accel(self, current_flow):
        h = self._flow_history
        if h.count < 3:
            return 0.0
        f1, f2, f3 = current_flow, h[0], h[1]
        return sigmoid(((f1 - f2) - (f2 - f3)) / 100)

    def _volume_spike(self, bar, bars, ci):
        if ci < 20:
            return 0.0
        avg = 0.0
        for i in range(ci - 19, ci):
            avg += bars[i].tick_volume
        avg /= 19
        ratio = safe_div(bar.tick_volume, avg)
        return 1.0 if ratio > 2.0 else (0.5 if ratio > 1.5 else 0.0)

    def _spread_z(self, cur):
        h = self._spread_history
        if h.count < 20:
            return 0.0
        values = h.values()[:20]
        mean = sum(values) / len(values)
        std = math.sqrt(sum((v - mean) ** 2 for v in values) / len(values))
        return z_score(cur, mean, std)

    def _tick_intensity(self, cur_rate, bars, ci):
        rates = [bars[i].tick_volume / 60.0 for i in range(ci - 19, ci + 1)]
        return (percentile_rank(cur_rate, rates) - 50) / 50

    def _tick_clustering(self, bars, ci):
        if ci < 5:
            return 0.0
        recent = total = 0.0
        for i in range(ci - 9, ci + 1):
            total += bars[i].tick_volume
            if i >= ci - 2:
                recent += bars[i].tick_volume
        return (recent / total - 0.3) / 0.7 if total > 0 else 0.0

    def _vwap(self, bars, ci, period):
        pv = tv = 0.0
        for i in range(ci - period + 1, ci + 1):
            pv += bars[i].typical * bars[i].tick_volume
            tv += bars[i].tick_volume
        return pv / tv if tv > 0 else bars[ci].close

    def _price_efficiency(self, bars, ci):
        if ci < 10:
            return 0.5
        net = abs(bars[ci].close - bars[ci - 9].close)
        total = 0.0
        for i in range(ci - 8, ci + 1):
            total += abs(bars[i].close - bars[i - 1].close)
        return safe_div(net, total)

    def _depth_imbalance(self, bar, bars, ci):
        price_change = (bar.close - bars[ci - 1].close) if ci > 0 else 0.0
        response = safe_div(abs(price_change) * 10000, flog(1 + bar.tick_volume))
        return sigmoid((response - 5) / 5) * sign(price_change)

    def _amihud(self, bars, ci):
        if ci < 10:
            return 0.0
        s = 0.0
        count = 0
        for i in range(ci - 9, ci + 1):
            ret = abs(fdiv(bars[i].close - bars[i - 1].close, bars[i - 1].close))
            dollar_vol = bars[i].tick_volume * bars[i].close
            if dollar_vol > 0:
                s += ret / dollar_vol * 1_000_000
                count += 1
        return s / count if count > 0 else 0.0

    def _iceberg(self, bars, ci):
        if ci < 10:
            return 0.0
        cur = bars[ci].close
        similar = 0
        vol_at = 0.0
        for i in range(ci - 9, ci + 1):
            if abs(bars[i].close - cur) < cur * 0.0001:
                similar += 1
                vol_at += bars[i].tick_volume
        if similar >= 3 and vol_at > bars[ci].tick_volume * 5:
            if ci > 0:
                return sign(bars[ci].close - bars[ci - 1].close) * 0.5
        return 0.0

    def _stop_hunt(self, bars, ci):
        if ci < 3:
            return 0.0
        bar = bars[ci]
        prev = bars[ci - 1]
        if bar.high > prev.high and bar.close < prev.high:
            return -0.5
        if bar.low < prev.low and bar.close > prev.low:
            return 0.5
        return 0.0


# ======================================================================
# 4) TechnicalIndicatorFeatures — M1, priority 4
# ======================================================================

class TechnicalIndicatorFeatures:
    name = "TechnicalIndicators"
    timeframe = 1
    priority = 4

    def __init__(self):
        self._rsi_history = RollingWindow(50)
        self._macd_history = RollingWindow(50)

    def calculate(self, out, bars, ci):
        if ci < 50:
            return
        close = bars[ci].close

        rsi14 = tech_rsi(bars, ci, 14)
        self._rsi_history.add(rsi14)
        add_feature(out, "04_tech_rsi_normalized", (rsi14 - 50) / 50)
        if self._rsi_history.count >= 5:
            rsi_mom = (rsi14 - self._rsi_history[4]) / 5
            add_feature(out, "04_tech_rsi_momentum", sigmoid(rsi_mom / 10))
        else:
            add_feature(out, "04_tech_rsi_momentum", 0.0)
        rsi9 = tech_rsi(bars, ci, 9)
        rsi21 = tech_rsi(bars, ci, 21)
        add_feature(out, "04_tech_rsi_composite",
                    (rsi9 * 0.3 + rsi14 * 0.4 + rsi21 * 0.3 - 50) / 50)

        macd_line = calc_ema(bars, ci, 12) - calc_ema(bars, ci, 26)
        macd_signal = self._macd_signal(bars, ci)
        macd_hist = macd_line - macd_signal
        self._macd_history.add(macd_hist)
        atr = calc_atr(bars, ci, 14)
        add_feature(out, "04_tech_macd_normalized", sigmoid(safe_div(macd_hist, atr)))
        add_feature(out, "04_tech_macd_quality", self._macd_quality())

        bb_upper, bb_mid, bb_lower, bb_width = bollinger(bars, ci, 20, 2)
        add_feature(out, "04_tech_bb_position",
                    safe_div(close - bb_lower, bb_upper - bb_lower) * 2 - 1)
        add_feature(out, "04_tech_bb_squeeze", self._bb_squeeze(bars, ci, bb_width))
        add_feature(out, "04_tech_bb_expansion", self._bb_expansion(bars, ci, bb_width))

        ema9 = calc_ema(bars, ci, 9)
        ema21 = calc_ema(bars, ci, 21)
        ema50 = calc_ema(bars, ci, 50)
        add_feature(out, "04_tech_ma_alignment", ma_alignment(close, ema9, ema21, ema50))
        add_feature(out, "04_tech_ma_dev_9", sigmoid(safe_div(close - ema9, atr)))
        add_feature(out, "04_tech_ma_dev_21", sigmoid(safe_div(close - ema21, atr)))
        add_feature(out, "04_tech_ma_convergence", self._ma_convergence(bars, ci))

        atr14 = calc_atr(bars, ci, 14)
        atr7 = calc_atr(bars, ci, 7)
        add_feature(out, "04_tech_atr_ratio", safe_div(atr7, atr14))
        add_feature(out, "04_tech_vol_percentile", self._vol_percentile(bars, ci, atr14))

    def _macd_signal(self, bars, ci):
        vals = []
        for i in range(ci - 8, ci + 1):
            if i >= 26:
                vals.append(calc_ema(bars, i, 12) - calc_ema(bars, i, 26))
        return sum(vals) / len(vals) if vals else 0.0

    def _macd_quality(self):
        h = self._macd_history
        if h.count < 5:
            return 0.0
        return momentum_quality(h.values()[:5])

    def _bb_squeeze(self, bars, ci, current_width):
        widths = []
        for i in range(ci - 19, ci + 1):
            if i >= 20:
                widths.append(bollinger(bars, i, 20, 2)[3])
        if len(widths) < 10:
            return 0.0
        return 1.0 if percentile_rank(current_width, widths) < 20 else 0.0

    def _bb_expansion(self, bars, ci, current_width):
        if ci < 25:
            return 0.0
        prev_width = bollinger(bars, ci - 5, 20, 2)[3]
        return sigmoid(safe_div(current_width - prev_width, prev_width) * 100)

    def _ma_convergence(self, bars, ci):
        ema9 = calc_ema(bars, ci, 9)
        ema21 = calc_ema(bars, ci, 21)
        ema50 = calc_ema(bars, ci, 50)
        s1 = abs(ema9 - ema21)
        s2 = abs(ema21 - ema50)
        if ci >= 5:
            p9 = calc_ema(bars, ci - 5, 9)
            p21 = calc_ema(bars, ci - 5, 21)
            p50 = calc_ema(bars, ci - 5, 50)
            ps1 = abs(p9 - p21)
            ps2 = abs(p21 - p50)
            c1 = safe_div(ps1 - s1, ps1)
            c2 = safe_div(ps2 - s2, ps2)
            return sigmoid((c1 + c2) * 50)
        return 0.0

    def _vol_percentile(self, bars, ci, current_atr):
        atrs = []
        for i in range(ci - 49, ci + 1):
            if i >= 14:
                atrs.append(calc_atr(bars, i, 14))
        return percentile_rank(current_atr, atrs) / 100


def tech_rsi(bars, ci, period):
    """TechnicalIndicatorFeatures.CalculateRSI — correct argument order."""
    if ci < period:
        return 50.0
    gains = losses = 0.0
    for i in range(ci - period + 1, ci + 1):
        change = bars[i].close - bars[i - 1].close
        if change > 0:
            gains += change
        else:
            losses += abs(change)
    avg_gain = gains / period
    avg_loss = losses / period
    if avg_loss < 1e-10:
        return 100.0
    rs = avg_gain / avg_loss
    return 100 - (100 / (1 + rs))


def bollinger(bars, ci, period, std_mult):
    sma = calc_sma(bars, ci, period)
    std = calc_stddev(bars, ci, period)
    upper = sma + std_mult * std
    lower = sma - std_mult * std
    return upper, sma, lower, upper - lower


def ma_alignment(price, ema9, ema21, ema50):
    if price > ema9 and ema9 > ema21 and ema21 > ema50:
        return 1.0
    if price < ema9 and ema9 < ema21 and ema21 < ema50:
        return -1.0
    bullish = 0
    if price > ema9:
        bullish += 1
    if ema9 > ema21:
        bullish += 1
    if ema21 > ema50:
        bullish += 1
    return (bullish - 1.5) / 1.5


# ======================================================================
# 5) PositionFeatures — M1, priority 5 (PositionFeatures.cs)
# ======================================================================

TRAIL_ACT = 3.5
TRAIL_DIST = 2.5
MAX_DD = 10.0


class PositionFeatures:
    name = "Position"
    timeframe = 1
    priority = 5

    def calculate(self, out, bars, ci):
        if ci < 20:
            return
        bar = bars[ci]
        close = bar.close

        lq = self._long_quality(bars, ci)
        add_feature(out, "05_pos_long_quality", lq[0])
        add_feature(out, "05_pos_long_entry_score", lq[1])
        add_feature(out, "05_pos_long_risk_reward", lq[2])
        add_feature(out, "05_pos_long_success_prob", lq[3])
        sq = self._short_quality(bars, ci)
        add_feature(out, "05_pos_short_quality", sq[0])
        add_feature(out, "05_pos_short_entry_score", sq[1])
        add_feature(out, "05_pos_short_risk_reward", sq[2])
        add_feature(out, "05_pos_short_success_prob", sq[3])

        lt = self._trailing_long(bars, ci)
        add_feature(out, "05_pos_long_trailing_active", 1.0 if lt[0] else 0.0)
        add_feature(out, "05_pos_long_profit_potential", lt[1])
        add_feature(out, "05_pos_long_max_favorable", lt[2])
        st = self._trailing_short(bars, ci)
        add_feature(out, "05_pos_short_trailing_active", 1.0 if st[0] else 0.0)
        add_feature(out, "05_pos_short_profit_potential", st[1])
        add_feature(out, "05_pos_short_max_favorable", st[2])

        atr = calc_atr(bars, ci, 14)
        support = self._support_level(bars, ci)
        resistance = self._resistance_level(bars, ci)
        downside = (close - support) * 10000
        upside = (resistance - close) * 10000
        add_feature(out, "05_pos_downside_risk", downside)
        add_feature(out, "05_pos_upside_potential", upside)
        add_feature(out, "05_pos_risk_asymmetry", safe_div(upside, downside))
        add_feature(out, "05_pos_stop_distance", atr * 10000 * 2)

        add_feature(out, "05_pos_support_strength", self._support_strength(bars, ci))
        add_feature(out, "05_pos_resistance_strength", self._resistance_strength(bars, ci))

        ema9 = calc_ema(bars, ci, 9)
        long_entry = min(close - atr * 0.5, ema9)
        short_entry = max(close + atr * 0.5, ema9)
        add_feature(out, "05_pos_optimal_long_entry", long_entry)
        add_feature(out, "05_pos_optimal_short_entry", short_entry)
        add_feature(out, "05_pos_distance_to_long_entry",
                    safe_div(long_entry - close, close) * 10000)
        add_feature(out, "05_pos_distance_to_short_entry",
                    safe_div(close - short_entry, close) * 10000)

        add_feature(out, "05_pos_expected_long_duration", self._duration(bars, ci))
        add_feature(out, "05_pos_expected_short_duration", self._duration(bars, ci))

        if ci >= 50:
            ema21 = calc_ema(bars, ci, 21)
            ema50 = calc_ema(bars, ci, 50)
            la = (0.5 if ema9 > ema21 else 0.0) + (0.5 if ema21 > ema50 else 0.0)
            sa = (0.5 if ema9 < ema21 else 0.0) + (0.5 if ema21 < ema50 else 0.0)
            add_feature(out, "05_pos_mtf_long_alignment", la)
            add_feature(out, "05_pos_mtf_short_alignment", sa)
            add_feature(out, "05_pos_mtf_consensus", abs(la - sa))

        add_feature(out, "05_pos_recommended_size_long", lq[0] * lq[3])
        add_feature(out, "05_pos_recommended_size_short", sq[0] * sq[3])
        add_feature(out, "05_pos_size_confidence", max(lq[3], sq[3]))

        add_feature(out, "05_pos_long_expectancy", self._expectancy(bars, ci, True))
        add_feature(out, "05_pos_short_expectancy", self._expectancy(bars, ci, False))

    def _quality_scores(self, bars, ci, is_long):
        scores = []
        if ci >= 50:
            ema9 = calc_ema(bars, ci, 9)
            ema21 = calc_ema(bars, ci, 21)
            ema50 = calc_ema(bars, ci, 50)
            if is_long:
                if ema9 > ema21 and ema21 > ema50:
                    scores.append(1.0)
                elif ema9 > ema21:
                    scores.append(0.6)
                else:
                    scores.append(0.2)
            else:
                if ema9 < ema21 and ema21 < ema50:
                    scores.append(1.0)
                elif ema9 < ema21:
                    scores.append(0.6)
                else:
                    scores.append(0.2)
        # RSI always 50 (swapped-arg bug PositionFeatures.cs:504 vs :135/:197)
        scores.append(1.0)
        cur_vol = float(bars[ci].tick_volume)
        avg_vol = 0.0
        for i in range(ci - 19, ci):
            avg_vol += bars[i].tick_volume
        avg_vol /= 19
        if cur_vol > avg_vol * 1.2:
            scores.append(1.0)
        elif cur_vol > avg_vol:
            scores.append(0.7)
        else:
            scores.append(0.4)
        close = bars[ci].close
        if is_long:
            dist = (close - self._support_level(bars, ci)) * 10000
        else:
            dist = (self._resistance_level(bars, ci) - close) * 10000
        if dist < 5.0:
            scores.append(1.0)
        elif dist < 10.0:
            scores.append(0.7)
        else:
            scores.append(0.3)
        atr = calc_atr(bars, ci, 14)
        avg_atr = 0.0
        for i in range(ci - 19, ci + 1):
            avg_atr += calc_atr(bars, i, 14)
        avg_atr /= 20
        scores.append(1.0 if atr < avg_atr * 1.5 else 0.5)
        return scores

    def _long_quality(self, bars, ci):
        scores = self._quality_scores(bars, ci, True)
        quality = sum(scores) / len(scores)
        up = bars[ci].up
        down = bars[ci].down
        entry = quality * (1.0 + fdiv(up, float(up + down)))
        rr = self._long_rr(bars, ci)
        return quality, entry / 2, rr, quality * 0.8

    def _short_quality(self, bars, ci):
        scores = self._quality_scores(bars, ci, False)
        quality = sum(scores) / len(scores)
        up = bars[ci].up
        down = bars[ci].down
        entry = quality * (1.0 + fdiv(down, float(up + down)))
        rr = self._short_rr(bars, ci)
        return quality, entry / 2, rr, quality * 0.8

    def _trailing_long(self, bars, ci):
        if ci < 10:
            return False, 0.0, 0.0
        entry = bars[ci].low
        max_profit = 0.0
        for i in range(ci - 9, ci + 1):
            max_profit = max(max_profit, (bars[i].high - entry) * 10000)
        return (max_profit >= TRAIL_ACT, max(0.0, max_profit - TRAIL_DIST), max_profit)

    def _trailing_short(self, bars, ci):
        if ci < 10:
            return False, 0.0, 0.0
        entry = bars[ci].high
        max_profit = 0.0
        for i in range(ci - 9, ci + 1):
            max_profit = max(max_profit, (entry - bars[i].low) * 10000)
        return (max_profit >= TRAIL_ACT, max(0.0, max_profit - TRAIL_DIST), max_profit)

    def _support_level(self, bars, ci):
        close = bars[ci].close
        lows = [bars[i].low for i in range(max(0, ci - 50), ci)]
        below = [l for l in lows if l < close]
        return max(below) if below else close * 0.999

    def _resistance_level(self, bars, ci):
        close = bars[ci].close
        highs = [bars[i].high for i in range(max(0, ci - 50), ci)]
        above = [h for h in highs if h > close]
        return min(above) if above else close * 1.001

    def _support_strength(self, bars, ci):
        support = self._support_level(bars, ci)
        touches = sum(1 for i in range(max(0, ci - 50), ci)
                      if abs(bars[i].low - support) < 0.0002)
        return min(1.0, touches / 5.0)

    def _resistance_strength(self, bars, ci):
        resistance = self._resistance_level(bars, ci)
        touches = sum(1 for i in range(max(0, ci - 50), ci)
                      if abs(bars[i].high - resistance) < 0.0002)
        return min(1.0, touches / 5.0)

    def _long_rr(self, bars, ci):
        close = bars[ci].close
        risk = (close - self._support_level(bars, ci)) * 10000
        reward = (self._resistance_level(bars, ci) - close) * 10000
        return safe_div(reward, risk)

    def _short_rr(self, bars, ci):
        close = bars[ci].close
        risk = (self._resistance_level(bars, ci) - close) * 10000
        reward = (close - self._support_level(bars, ci)) * 10000
        return safe_div(reward, risk)

    def _duration(self, bars, ci):
        atr = calc_atr(bars, ci, 14)
        target = TRAIL_ACT * 0.0001
        moves = 0.0
        count = 0
        for i in range(ci - 9, ci):
            move = abs(bars[i + 1].close - bars[i].close)
            if move > 0:
                moves += move
                count += 1
        avg = moves / count if count > 0 else atr
        return safe_div(target, avg)

    def _expectancy(self, bars, ci, is_long):
        scores = self._quality_scores(bars, ci, is_long)
        quality = sum(scores) / len(scores)
        win_prob = 0.4 + quality * 0.3
        avg_win = TRAIL_ACT - TRAIL_DIST
        return (win_prob * avg_win) - ((1 - win_prob) * MAX_DD)


# ======================================================================
# 6) DeepLearningFeatures — M5, priority 6 (DeepLearningFeatures.cs)
# ======================================================================

class DeepLearningFeatures:
    name = "DeepLearning"
    timeframe = 5
    priority = 6

    def calculate(self, out, bars, ci):
        if ci < 20:
            return
        bar = bars[ci]

        seq10 = self._price_seq(bars, ci, 10)
        add_feature(out, "06_dl_price_embedding", seq_embedding(seq10))

        weights = self._attention_weights(bars, ci, 20)
        add_feature(out, "06_dl_attention_spread", attention_spread(weights))
        add_feature(out, "06_dl_context_strength", self._context(bars, ci, weights))

        for k in (3, 5, 7, 9):
            if ci >= k:
                add_feature(out, f"06_dl_conv_{k}_price", self._conv(bars, ci, k))

        add_feature(out, "06_dl_maxpool_price", self._maxpool(bars, ci, 20, 5))
        add_feature(out, "06_dl_avgpool_price", self._avgpool(bars, ci, 20, 5))

        forget, input_gate = self._gates(bars, ci)
        add_feature(out, "06_dl_forget_gate", forget)
        add_feature(out, "06_dl_input_gate", input_gate)

        if ci >= 30:
            add_feature(out, "06_dl_pattern_score", self._pattern(bars, ci))
            add_feature(out, "06_dl_cycle_strength", self._cycle(bars, ci))

        add_feature(out, "06_dl_bottleneck_feat", self._bottleneck(bars, ci))

        if ci >= 50:
            for scale in (5, 10, 20, 50):
                add_feature(out, f"06_dl_multiscale_{scale}", calc_sma(bars, ci, scale))

        add_feature(out, "06_dl_encoded_seq", seq_embedding(self._price_seq(bars, ci, 20)))
        add_feature(out, "06_dl_decoded_state", bar.close)
        add_feature(out, "06_dl_node_importance", self._node_importance(bars, ci))

        angle = ci / math.pow(10000, 2.0 / 64)
        add_feature(out, "06_dl_pos_encoding_sin", math.sin(angle))
        add_feature(out, "06_dl_pos_encoding_cos", math.cos(angle))

        add_feature(out, "06_dl_layer_norm", self._layer_norm(bars, ci))
        add_feature(out, "06_dl_feature_robustness", self._robustness(bars, ci))

        if ci >= 30:
            add_feature(out, "06_dl_sequence_complexity", self._complexity(bars, ci))
            add_feature(out, "06_dl_sequence_entropy", self._entropy(bars, ci))

    def _price_seq(self, bars, ci, length):
        return [bars[ci - length + 1 + i].close for i in range(length)]

    def _attention_weights(self, bars, ci, lookback):
        cur = bars[ci].close
        weights = []
        for i in range(lookback):
            past = bars[ci - lookback + 1 + i].close
            weights.append(fexp(-((cur - past) ** 2) / (2 * 0.01)))
        mx = max(weights)
        exp_w = [fexp(w - mx) for w in weights]
        s = sum(exp_w)
        return [w / s for w in exp_w]

    def _context(self, bars, ci, weights):
        n = len(weights)
        return sum(weights[i] * bars[ci - n + 1 + i].close for i in range(n))

    def _conv(self, bars, ci, kernel):
        ps = ws = 0.0
        for i in range(kernel):
            w = fexp(-i * 0.1)
            ps += w * bars[ci - i].close
            ws += w
        return ps / ws

    def _maxpool(self, bars, ci, window, pool):
        mx = -math.inf
        for i in range(ci - window + 1, ci + 1, pool):
            mx = max(mx, bars[i].high)
        return mx

    def _avgpool(self, bars, ci, window, pool):
        vals = [bars[i].close for i in range(ci - window + 1, ci + 1, pool)]
        return sum(vals) / len(vals)

    def _gates(self, bars, ci):
        atr = calc_atr(bars, ci, 14)
        avg_atr = 0.0
        for i in range(ci - 19, ci + 1):
            avg_atr += calc_atr(bars, i, 14)
        avg_atr /= 20
        forget = min(1.0, fdiv(atr, avg_atr))
        price_change = abs(bars[ci].close - bars[ci - 1].close)
        input_gate = min(1.0, price_change / (atr + 1e-10))
        return forget, input_gate

    def _autocorr(self, bars, ci, lag):
        values = [bars[i].close for i in range(ci - 2 * lag, ci + 1)]
        mean = sum(values) / len(values)
        num = 0.0
        for i in range(lag, len(values)):
            num += (values[i] - mean) * (values[i - lag] - mean)
        den = sum((v - mean) ** 2 for v in values)
        return num / den if den > 0 else 0.0

    def _pattern(self, bars, ci):
        mx = 0.0
        for lag in (5, 10, 15, 20):
            if ci >= lag * 2:
                mx = max(mx, abs(self._autocorr(bars, ci, lag)))
        return mx

    def _cycle(self, bars, ci):
        mx = 0.0
        for period in range(3, 11):
            mx = max(mx, self._autocorr(bars, ci, period))
        return mx

    def _bottleneck(self, bars, ci):
        prices = [bars[i].close for i in range(ci - 19, ci + 1)]
        volumes = [float(bars[i].tick_volume) for i in range(ci - 19, ci + 1)]
        pm = sum(prices) / len(prices)
        vm = sum(volumes) / len(volumes)
        cov = sum((p - pm) * (v - vm) for p, v in zip(prices, volumes))
        return cov / len(prices)

    def _node_importance(self, bars, ci):
        cur = float(bars[ci].tick_volume)
        avg = 0.0
        for i in range(ci - 9, ci + 1):
            avg += bars[i].tick_volume
        avg /= 10
        return safe_div(cur, avg)

    def _layer_norm(self, bars, ci):
        prices = [bars[i].close for i in range(ci - 19, ci + 1)]
        mean = sum(prices) / len(prices)
        std = math.sqrt(sum((p - mean) ** 2 for p in prices) / len(prices))
        return safe_div(bars[ci].close - mean, std + 1e-10)

    def _robustness(self, bars, ci):
        emas = [calc_ema(bars, ci, 5), calc_ema(bars, ci, 10), calc_ema(bars, ci, 20)]
        avg = sum(emas) / 3
        var = sum((e - avg) ** 2 for e in emas) / 3
        return 1.0 / (1.0 + var)

    def _complexity(self, bars, ci):
        seq = self._price_seq(bars, ci, 30)
        mean = sum(seq) / len(seq)
        binary = [1 if v > mean else 0 for v in seq]
        patterns = set()
        for length in range(1, 6):
            for i in range(len(binary) - length + 1):
                patterns.add(tuple(binary[i:i + length]))
        return len(patterns) / 30

    def _entropy(self, bars, ci):
        seq = self._price_seq(bars, ci, 30)
        bins = 10
        mn = min(seq)
        mx = max(seq)
        width = (mx - mn) / bins
        if width < 1e-10:
            return 0.0
        counts = [0] * bins
        for v in seq:
            b = int((v - mn) / width)
            if b >= bins:
                b = bins - 1
            counts[b] += 1
        entropy = 0.0
        for c in counts:
            if c > 0:
                p = c / len(seq)
                entropy -= p * math.log2(p)
        return entropy


def seq_embedding(seq):
    mean = sum(seq) / len(seq)
    std = math.sqrt(sum((v - mean) ** 2 for v in seq) / len(seq))
    skew = _skewness(seq, mean, std)
    return mean * 0.5 + std * 0.3 + skew * 0.2


def _skewness(values, mean, std):
    if len(values) < 3:
        return 0.0
    if std < 1e-10:
        return 0.0
    n = len(values)
    s = sum(((v - mean) / std) ** 3 for v in values)
    return s * n / ((n - 1) * (n - 2))


def attention_spread(weights):
    entropy = 0.0
    for w in weights:
        if w > 1e-10:
            entropy -= w * flog(w)
    return entropy


# ======================================================================
# 7) MachineLearningFeatures — M5, priority 7 (MachineLearningFeatures.cs)
# ======================================================================

class MachineLearningFeatures:
    name = "MachineLearning"
    timeframe = 5
    priority = 7

    def __init__(self):
        self._price_history = RollingWindow(100)
        self._volume_history = RollingWindow(100)
        self._volatility_history = RollingWindow(100)
        self._price_mean = 0.0
        self._price_std = 0.0
        self._volume_mean = 0.0
        self._volume_std = 0.0

    def calculate(self, out, bars, ci):
        if ci < 20:
            return
        bar = bars[ci]
        close = bar.close

        self._update_rolling(bars, ci)

        norm_price = safe_div(close - self._price_mean, self._price_std)
        add_feature(out, "07_ml_price_zscore", norm_price)
        norm_volume = safe_div(bar.tick_volume - self._volume_mean, self._volume_std)
        add_feature(out, "07_ml_volume_zscore", norm_volume)

        returns = flog(fdiv(close, bars[ci - 10].close))
        add_feature(out, "07_ml_returns_squared", returns * returns)
        add_feature(out, "07_ml_returns_cubed", returns * returns * returns)
        add_feature(out, "07_ml_volume_gini", self._gini(bars, ci))

        if self._volume_history.count >= 20:
            vals = self._volume_history.values()
            vol5 = sum(vals[:5]) / 5
            vol20 = sum(vals[:20]) / 20
            add_feature(out, "07_ml_volume_short_long_ratio", safe_div(vol5, vol20))
        else:
            add_feature(out, "07_ml_volume_short_long_ratio", 0.0)

        if ci >= 30:
            xs = [bars[i].close for i in range(ci - 19, ci + 1)]
            ys = [float(bars[i].tick_volume) for i in range(ci - 19, ci + 1)]
            add_feature(out, "07_ml_price_volume_correlation", rolling_corr(xs, ys))
            add_feature(out, "07_ml_price_volume_covariance", rolling_cov(xs, ys))

        trend = self._trend_score(bars, ci)
        add_feature(out, "07_ml_composite_trend_score", trend)
        momentum = self._momentum_score(bars, ci)
        add_feature(out, "07_ml_composite_momentum_score", momentum)
        add_feature(out, "07_ml_composite_volatility_score", self._volatility_score(bars, ci))
        add_feature(out, "07_ml_market_quality_score", self._quality_score(bars, ci))

        if self._price_history.count >= 50:
            vals = self._price_history.values()[:50]
            add_feature(out, "07_ml_price_percentile_50", strict_rank(vals, close))
        else:
            add_feature(out, "07_ml_price_percentile_50", 0.5)
        if self._volume_history.count >= 50:
            vals = self._volume_history.values()[:50]
            add_feature(out, "07_ml_volume_percentile_50", strict_rank(vals, bar.tick_volume))
        else:
            add_feature(out, "07_ml_volume_percentile_50", 0.5)

        if ci >= 30:
            xs = [bars[i].close for i in range(ci - 29, ci + 1)]
            add_feature(out, "07_ml_price_entropy", local_entropy(xs))
            ys = [float(bars[i].tick_volume) for i in range(ci - 29, ci + 1)]
            add_feature(out, "07_ml_volume_entropy", local_entropy(ys))

        add_feature(out, "07_ml_price_bin", bin_value(close, self._price_mean, self._price_std))
        add_feature(out, "07_ml_volume_bin",
                    bin_value(bar.tick_volume, self._volume_mean, self._volume_std))

        hour = (bar.ts_us // 3_600_000_000) % 24
        add_feature(out, "07_ml_hour_asian", 1.0 if 0 <= hour < 8 else 0.0)
        add_feature(out, "07_ml_hour_european", 1.0 if 8 <= hour < 16 else 0.0)
        add_feature(out, "07_ml_hour_american", 1.0 if 16 <= hour < 24 else 0.0)

        add_feature(out, "07_ml_price_lag_1", bars[ci - 1].close)
        add_feature(out, "07_ml_price_lag_3", bars[ci - 3].close)
        add_feature(out, "07_ml_price_lag_5", bars[ci - 5].close)
        add_feature(out, "07_ml_pct_change_lag_5",
                    safe_div(close - bars[ci - 5].close, bars[ci - 5].close) * 100)

        self._price_history.add(close)
        self._volume_history.add(float(bar.tick_volume))
        self._volatility_history.add(calc_atr(bars, ci, 14))

    def _update_rolling(self, bars, ci):
        if ci < 50:
            return
        prices = [bars[i].close for i in range(ci - 49, ci + 1)]
        volumes = [float(bars[i].tick_volume) for i in range(ci - 49, ci + 1)]
        self._price_mean = sum(prices) / 50
        self._price_std = math.sqrt(sum((p - self._price_mean) ** 2 for p in prices) / 50)
        self._volume_mean = sum(volumes) / 50
        self._volume_std = math.sqrt(sum((v - self._volume_mean) ** 2 for v in volumes) / 50)

    def _gini(self, bars, ci):
        volumes = sorted(float(bars[i].tick_volume) for i in range(ci - 19, ci + 1))
        total = sum(volumes)
        if total < 1e-10:
            return 0.0
        gini = 0.0
        n = len(volumes)
        for i, v in enumerate(volumes):
            gini += (2 * (i + 1) - n - 1) * v
        return gini / (n * total)

    def _trend_score(self, bars, ci):
        if ci < 50:
            return 0.0
        scores = [0.0]  # ADX always 0: swapped args (MachineLearningFeatures.cs:262,435-437)
        slope = self._linear_slope(bars, ci, 20)
        scores.append(math.tanh(slope * 1000))
        ema9 = calc_ema(bars, ci, 9)
        ema21 = calc_ema(bars, ci, 21)
        ema50 = calc_ema(bars, ci, 50)
        if ema9 > ema21 and ema21 > ema50:
            scores.append(1.0)
        elif ema9 < ema21 and ema21 < ema50:
            scores.append(-1.0)
        else:
            scores.append(0.0)
        return sum(scores) / len(scores)

    def _momentum_score(self, bars, ci):
        if ci < 26:
            return 0.0
        scores = [0.0]  # RSI always 50: swapped args (MachineLearningFeatures.cs:289,402-404)
        macd = (calc_ema(bars, ci, 12) - calc_ema(bars, ci, 26)) if ci >= 26 else 0.0
        scores.append(math.tanh(macd * 1000))
        roc = safe_div(bars[ci].close - bars[ci - 10].close, bars[ci - 10].close)
        scores.append(math.tanh(roc * 100))
        return sum(scores) / len(scores)

    def _volatility_score(self, bars, ci):
        if ci < 20:
            return 0.0
        atr = calc_atr(bars, ci, 14)
        close = bars[ci].close
        atr_pct = safe_div(atr, close)
        std = calc_stddev(bars, ci, 20)
        std_pct = safe_div(std, close)
        return (min(1.0, atr_pct * 1000) + min(1.0, std_pct * 1000)) / 2

    def _quality_score(self, bars, ci):
        if ci < 50:
            return 0.5
        scores = []
        if self._volume_history.count >= 20:
            vals = self._volume_history.values()[:20]
            mean = sum(vals) / len(vals)
            volume_std = math.sqrt(sum((v - mean) ** 2 for v in vals) / len(vals))
        else:
            volume_std = 0.0
        scores.append(1.0 - min(1.0, safe_div(volume_std, self._volume_mean)))
        avg_spread = bars[ci].avg_spread
        scores.append(1.0 - min(1.0, avg_spread * 10000))
        scores.append(0.0)  # trendClarity: ADX always 0 (swapped args)
        return sum(scores) / len(scores)

    def _linear_slope(self, bars, ci, period):
        xs = list(range(period))
        ys = [bars[ci - period + 1 + i].close for i in range(period)]
        n = period
        sum_x = float(sum(xs))
        sum_y = float(sum(ys))
        sum_xy = float(sum(x * y for x, y in zip(xs, ys)))
        sum_x2 = float(sum(x * x for x in xs))
        return safe_div(n * sum_xy - sum_x * sum_y, n * sum_x2 - sum_x * sum_x)


def rolling_corr(x, y):
    if len(x) != len(y) or len(x) < 2:
        return 0.0
    n = len(x)
    sum_x = sum(x)
    sum_y = sum(y)
    sum_xy = sum(a * b for a, b in zip(x, y))
    sum_x2 = sum(a * a for a in x)
    sum_y2 = sum(b * b for b in y)
    num = n * sum_xy - sum_x * sum_y
    den = math.sqrt(max(0.0, (n * sum_x2 - sum_x * sum_x) * (n * sum_y2 - sum_y * sum_y)))
    return num / den if den > 1e-10 else 0.0


def rolling_cov(x, y):
    if len(x) != len(y) or len(x) < 2:
        return 0.0
    mx = sum(x) / len(x)
    my = sum(y) / len(y)
    return sum((a - mx) * (b - my) for a, b in zip(x, y)) / len(x)


def strict_rank(values, target):
    if len(values) == 0:
        return 0.5
    count = sum(1 for v in values if v < target)
    return count / len(values)


def local_entropy(values):
    if len(values) == 0:
        return 0.0
    bins = 10
    mn = min(values)
    mx = max(values)
    width = (mx - mn) / bins
    if width < 1e-10:
        return 0.0
    counts = [0] * bins
    for v in values:
        b = int((v - mn) / width)
        if b >= bins:
            b = bins - 1
        if b < 0:
            b = 0
        counts[b] += 1
    entropy = 0.0
    for c in counts:
        if c > 0:
            p = c / len(values)
            entropy -= p * math.log2(p)
    return entropy


def bin_value(value, mean, std):
    if std < 1e-10:
        return 0.0
    z = (value - mean) / std
    if z < -2:
        return -3.0
    if z < -1:
        return -2.0
    if z < -0.5:
        return -1.0
    if z < 0.5:
        return 0.0
    if z < 1:
        return 1.0
    if z < 2:
        return 2.0
    return 3.0


def make_calculators():
    """Calculators in priority order (FeaturePipeline.cs:42-59,116-120)."""
    return [
        DirectionalFeatures(),
        MarketRegimeContextFeatures(),
        MicrostructureOrderFlowFeatures(),
        TechnicalIndicatorFeatures(),
        PositionFeatures(),
        DeepLearningFeatures(),
        MachineLearningFeatures(),
    ]

"""Vectorized label kernel — batch re-expression of LabelGenerator.cs.

Per source: the emissions' entry ticks (the tick that completed each M1 bar,
Program.cs:260-263) index a (E, 600) forward window over the tick arrays; the
trailing-stop simulation is vectorized with first-index argmax + cummax:

  exit tick  = min(jSL, jTP, jTRAIL)  with the reference's per-tick priority
  jTRAIL     = first j > jACT with price <= cummax(price[jACT..j-1]) - d  (long)
  activation = only effective when jACT strictly precedes any SL/TP exit

Processes emissions in bounded chunks so memory stays O(chunk * 600)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..oracle.labels import LabelConfig

PIP = 1e-4
BIG = 1 << 30


def _first_true(mask: np.ndarray) -> np.ndarray:
    """First True column index per row, BIG when none."""
    any_ = mask.any(axis=1)
    idx = mask.argmax(axis=1)
    return np.where(any_, idx, BIG)


def _simulate(entry: np.ndarray, price: np.ndarray, valid: np.ndarray,
              k: np.ndarray, is_long: bool, act_d: float, trail_d: float,
              sl_d: np.ndarray, tp_d: float):
    """Returns (profit_pips, mae_pips, activated, exit_tick) per row."""
    E, Wn = price.shape
    move = (price - entry[:, None]) if is_long else (entry[:, None] - price)
    move = np.where(valid, move, np.nan)

    sl_price = (entry - sl_d) if is_long else (entry + sl_d)
    hit_sl = valid & ((price <= sl_price[:, None]) if is_long
                      else (price >= sl_price[:, None]))
    jsl = _first_true(hit_sl)
    jtp = _first_true(valid & (move >= tp_d))
    jact = _first_true(valid & (move >= act_d))

    # trailing stop from activation
    J = np.arange(Wn)[None, :]
    after_act = J >= jact[:, None]
    if is_long:
        base = np.where(after_act & valid, price, -np.inf)
        cm = np.maximum.accumulate(base, axis=1)
        cmp_prev = np.concatenate([np.full((E, 1), -np.inf), cm[:, :-1]], axis=1)
        hit_tr = valid & (J > jact[:, None]) & (price <= cmp_prev - trail_d)
        trail_stop_at = cmp_prev - trail_d
    else:
        base = np.where(after_act & valid, price, np.inf)
        cm = np.minimum.accumulate(base, axis=1)
        cmp_prev = np.concatenate([np.full((E, 1), np.inf), cm[:, :-1]], axis=1)
        hit_tr = valid & (J > jact[:, None]) & (price >= cmp_prev + trail_d)
        trail_stop_at = cmp_prev + trail_d
    jtr = _first_true(hit_tr)

    pre_exit = np.minimum(jsl, jtp)
    act_effective = jact < pre_exit
    jtr_eff = np.where(act_effective, jtr, BIG)
    jexit = np.minimum(pre_exit, jtr_eff)

    no_exit = jexit >= BIG
    last_idx = np.maximum(k - 1, 0)
    exit_tick = np.where(no_exit, last_idx, jexit)

    rows = np.arange(E)
    exit_col = np.minimum(exit_tick, Wn - 1)
    price_at_exit = price[rows, exit_col]
    trail_price = trail_stop_at[rows, exit_col]
    exit_price = np.where(jexit == jsl, sl_price,
                          np.where(jexit == jtp, price_at_exit,
                                   np.where(jexit == jtr_eff, trail_price,
                                            price_at_exit)))
    # rows with no exit close at the last valid tick
    exit_price = np.where(no_exit, price[rows, exit_col], exit_price)

    activated = jact < np.where(no_exit, k, jexit)

    # MFE/MAE accumulators start at 0 (LabelGenerator.cs:122-141)
    upto = (J <= exit_col[:, None]) & valid
    with np.errstate(all="ignore"):
        mfe = np.where(upto & (move >= 0), move, 0.0).max(axis=1)
        mae = np.where(upto & (move < 0), -move, 0.0).max(axis=1)

    profit = ((exit_price - entry) if is_long else (entry - exit_price)) / PIP
    return profit, mae / PIP, mfe / PIP, activated, exit_tick, no_exit


def _quality(profit, mae, activated, exit_tick):
    ps = np.clip(profit / 10.0, 0.0, 1.0)
    rs = np.where(mae > 0, np.clip(1 - mae / 10.0, 0.0, 1.0), 1.0)
    ts = np.clip(1 - exit_tick / 600.0, 0.0, 1.0)
    return np.where(activated, ps * 0.5 + rs * 0.3 + ts * 0.2, 0.0)


def compute_labels(entry_seq: np.ndarray, bid: np.ndarray, ask: np.ndarray,
                   cfg: LabelConfig | None = None,
                   chunk: int = 1024, return_metadata: bool = False):
    # chunk=1024 keeps the (chunk, 600) working set ~50 MB per task: with 32
    # concurrent Arrow workers a large chunk saturates memory bandwidth and
    # the stage anti-scales (measured 8.5s -> 2.7s at local[32]).
    """entry_seq: per-emission entry-tick positions into bid/ask (per source).
    Returns int32 labels; with return_metadata=True returns a DataFrame with
    the full LabelResult surface (LabelGenerator.cs:17-27): label, confidence,
    long/short profit pips, MAE/MFE, time-to-target, risk-reward, quality."""
    cfg = cfg or LabelConfig()
    meta: dict[str, np.ndarray] = {
        k: np.zeros(len(entry_seq))
        for k in ("confidence", "long_profit_pips", "short_profit_pips",
                  "mae_pips", "mfe_pips", "risk_reward", "quality_score")
    } if return_metadata else {}
    if return_metadata:
        meta["time_to_target"] = np.zeros(len(entry_seq), dtype="int32")
    n = len(bid)
    Wn = cfg.max_future_ticks
    pad = np.full(Wn, np.nan)
    bid_p = np.concatenate([bid, pad])
    ask_p = np.concatenate([ask, pad])
    Fb = np.lib.stride_tricks.sliding_window_view(bid_p, Wn)
    Fa = np.lib.stride_tricks.sliding_window_view(ask_p, Wn)

    out = np.zeros(len(entry_seq), dtype="int32")
    act_d = cfg.trigger_pips * PIP
    trail_d = cfg.distance_pips * PIP
    tp_d = act_d * 3.0

    short_w = 128   # two-phase: most trades exit early; the short pass cuts
    #                 memory traffic ~Wn/short_w for the resolved majority

    def simulate_side(cs, k, entry, Fwin, is_long, sl_d):
        E = len(cs)
        profit = np.zeros(E)
        mae = np.zeros(E)
        mfe = np.zeros(E)
        act = np.zeros(E, dtype=bool)
        exit_tick = np.zeros(E, dtype="int64")

        # phase 1: short window — final for rows that exit inside it (exits
        # are first-hit and causal) and rows whose future is that short
        ks = np.minimum(k, short_w)
        price_s = Fwin[cs + 1][:, :short_w]
        valid_s = np.arange(short_w)[None, :] < ks[:, None]
        p1, m1_, f1, a1, e1, noex1 = _simulate(entry, price_s, valid_s, ks, is_long,
                                               act_d, trail_d, sl_d, tp_d)
        resolved = (~noex1) | (k <= short_w)
        profit[resolved] = p1[resolved]
        mae[resolved] = m1_[resolved]
        mfe[resolved] = f1[resolved]
        act[resolved] = a1[resolved]
        exit_tick[resolved] = e1[resolved]

        rest = ~resolved
        if rest.any():
            csr = cs[rest]
            kr = k[rest]
            price_f = Fwin[csr + 1]
            valid_f = np.arange(Wn)[None, :] < kr[:, None]
            p2, m2_, f2_, a2, e2, _ = _simulate(entry[rest], price_f, valid_f, kr,
                                                is_long, act_d, trail_d, sl_d[rest], tp_d)
            profit[rest] = p2
            mae[rest] = m2_
            mfe[rest] = f2_
            act[rest] = a2
            exit_tick[rest] = e2
        return profit, mae, mfe, act, exit_tick

    for s in range(0, len(entry_seq), chunk):
        cs = entry_seq[s:s + chunk]
        k = np.minimum(Wn, n - 1 - cs).astype("int64")
        eb = bid[cs]
        ea = ask[cs]

        spread_pips = (ea - eb) / PIP
        if cfg.stop_loss_pips > 0:
            slp = np.full(len(cs), cfg.stop_loss_pips)
        else:
            slp = np.maximum(5.0, np.maximum(cfg.distance_pips, spread_pips * 3.0))
        sl_d = np.maximum(0.0, slp) * PIP

        lp, lmae, lmfe, lact, lexit = simulate_side(cs, k, ea, Fb, True, sl_d)
        sp, smae, smfe, sact, sexit = simulate_side(cs, k, eb, Fa, False, sl_d)
        lq = _quality(lp, lmae, lact, lexit)
        sq = _quality(sp, smae, sact, sexit)
        conf = np.abs(lq - sq)
        label = np.zeros(len(cs), dtype="int32")
        pick_long = (conf >= cfg.min_confidence) & (lq > sq) & (lq >= cfg.min_score)
        pick_short = (conf >= cfg.min_confidence) & (sq > lq) & (sq >= cfg.min_score)
        label[pick_long] = 1
        label[pick_short] = -1
        neutral = k < 10          # CreateNeutralResult: everything zero
        label[neutral] = 0
        out[s:s + chunk] = label

        if return_metadata:
            sl = slice(s, s + len(cs))
            # RiskRewardRatio uses longResult only when label == 1, else the
            # SHORT result (including label 0) — LabelGenerator.cs:271
            rr_p = np.where(label == 1, lp, sp)
            rr_m = np.where(label == 1, lmae, smae)
            with np.errstate(all="ignore"):
                rr = np.where(rr_m > 0, rr_p / rr_m,
                              np.where(rr_p > 0, 10.0, 0.0))
            z = ~neutral
            meta["confidence"][sl] = np.where(z, np.minimum(1.0, conf), 0.0)
            meta["long_profit_pips"][sl] = np.where(z, lp, 0.0)
            meta["short_profit_pips"][sl] = np.where(z, sp, 0.0)
            meta["mae_pips"][sl] = np.where(z, np.maximum(lmae, smae), 0.0)
            meta["mfe_pips"][sl] = np.where(z, np.maximum(lmfe, smfe), 0.0)
            meta["time_to_target"][sl] = np.where(
                label == 1, lexit, np.where(label == -1, sexit, 0)).astype("int32")
            meta["risk_reward"][sl] = np.where(z, rr, 0.0)
            meta["quality_score"][sl] = np.where(z, np.maximum(lq, sq), 0.0)
    if return_metadata:
        order = ["confidence", "long_profit_pips", "short_profit_pips",
                 "mae_pips", "mfe_pips", "time_to_target", "risk_reward",
                 "quality_score"]
        return pd.DataFrame({"label": out, **{k: meta[k] for k in order}})
    return out


def labels_for_source(emissions: pd.DataFrame, ticks: pd.DataFrame,
                      cfg: LabelConfig | None = None,
                      with_metadata: bool = False) -> pd.DataFrame:
    """emissions: (ts_us, completion_seq); ticks: (seq, bid, ask), one
    source's contiguous seq range (a whole source, or a chunk with its label
    halo). with_metadata adds the full LabelResult fields next to the label."""
    t = ticks.sort_values("seq")
    res = compute_labels(
        emissions["completion_seq"].to_numpy("int64") - int(t["seq"].iloc[0]),
        t["bid"].to_numpy("float64"), t["ask"].to_numpy("float64"), cfg,
        return_metadata=with_metadata)
    if with_metadata:
        res.insert(0, "ts_us", emissions["ts_us"].to_numpy("int64"))
        return res
    return pd.DataFrame({"ts_us": emissions["ts_us"].to_numpy("int64"),
                         "label": res})

"""The feature builder: ticks -> M1/M5 bars -> 148 features + label per
emission, halo-chunked (SURVEY §4 axis B). It is the one execution path for
the CLI, run_resumable and the label surface.

  ticks [+ seq] (persisted) -> partial M1 bars -> completed M1, M5 bars
    (engine/bars.py: one tick-sized pass; M5 derives from the M1 partials
    and records last_lower_index, the M1 bar it completes with)
  -> every bar tagged with the chunks it belongs to, by arithmetic on its
     bar index (rules below); every chunk's tick range from one groupBy
  -> ONE cogroup per (source, chunk): (M1 ∪ M5 bars, haloed ticks) -> the
     chunk's features, then the labels of the rows it emits, in one call

Per-entity windows are order-dependent, so plain salting would corrupt them.
Instead each source's M1 bar stream is cut into chunks of C = chunk_bars
bars; chunk k EMITS bars [kC, (k+1)C) and reads a read-only HALO of the
state before them. The membership rules reproduce the halo exactly:

  * M1 bar b goes to chunks ⌊b/C⌋ … ⌊(b+H1)/C⌋, H1 = M1_HALO = 620 bars
    (499 anchored window + ~100 deepest emission-state ring + slack).
    Proof: b ∈ [kC − H1, (k+1)C − 1] ⟺ ⌊b/C⌋ ≤ k ≤ ⌊(b+H1)/C⌋.
  * M5 bar m is first visible at M1 emission L(m) = last_lower_index: m
    completes at the first tick after its bucket, which is the tick that
    completes M1 bar L(m), and completion ticks rise with the bar index.
    Chunk k needs the last H5 = M5_HALO = 620 M5 bars visible at its first
    emission kC and every M5 bar that becomes visible inside the chunk, so
    m goes to chunks ⌊L(m)/C⌋ … ⌊(lead(L, H5) − 1)/C⌋ (lead over the
    source's M5 bars). Proof: m is visible inside chunk k ⟺ L(m) ≤ (k+1)C − 1
    ⟺ k ≥ ⌊L(m)/C⌋, and m is not older than the last H5 visible at kC ⟺
    m + H5 is not yet visible at kC ⟺ L(m+H5) > kC. Without a lead m is
    among the source's last H5 M5 bars; an M5 bucket holds at most 5 M1
    bars, so at most 5·H5 + 5 M1 bars follow L(m) and ⌊(L(m)+5·H5+5)/C⌋
    reaches the source's last chunk.
  * Ticks: chunk k's emissions enter at their completion ticks and look
    max_future_ticks ahead, so its tick range is [min completion_seq,
    max completion_seq + max_future_ticks] over its emissions — one groupBy
    on M1, then a bucketed range join (each tick probes O(1) ranges however
    many chunks its source has).

The halo rules also make PHANTOM groups: chunks past a source's end that
hold only halo rows. They have no bar at or past kC and emit nothing.

Each chunk computes features with full fidelity and emits only its own bar
range, so results do not depend on chunk_bars (tests/test_skew.py). A
source with at most chunk_bars bars is a single chunk; a 10x-hot source
becomes ceil(n/chunk) parallel tasks instead of one straggler. The wide
150-column output leaves the kernel once and is never shuffled or joined.

Chunk-0 caveat: the absolute-run-count gates (warm-up 260, emission-state
counts <= 110) only affect bar indices < ~560, which always live in chunk 0
with a complete prefix — later chunks pass every gate, and their ring-buffer
reads stay inside the halo.

Residual per-source work: nothing tick-sized sorts per source (direction
lives in the bar groupBy); the remaining partitionBy(source) windows (bar
numbering, completion, the M5 lead) run over BARS — 1-3 orders of magnitude
smaller than ticks (a decade of minute bars is ~5M narrow rows, one bounded
sort task)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..oracle.labels import LabelConfig
from ..oracle.pipeline import FEATURE_NAMES
from . import bars as ebars
from .features import compute_features_pdf, WARMUP_BARS
from .labels import labels_for_source
from .pipeline import (FEATURES_LABELED_SCHEMA, LABEL_META_SCHEMA,
                       unambiguous_self_join)

M1_HALO = 620
M5_HALO = 620
TICK_BUCKET = 1 << 16
CHUNK_BARS = 4000

BAR_COLS = ("source", "bar_index", "bar_ts_us", "open", "high", "low", "close",
            "tick_volume", "up", "down", "avg_spread", "completion_seq")


def _span(lo, hi, step: int):
    """Explodes a row into every multiple-of-`step` bucket its [lo, hi]
    range overlaps."""
    return F.explode(F.sequence(F.floor(lo / F.lit(step)),
                                F.floor(hi / F.lit(step))))


def emitted_features(m1_pdf: pd.DataFrame, m5_pdf: pd.DataFrame,
                     emit_lo: int, warmup_bars: int) -> pd.DataFrame:
    """Features of one group's bars from its `emit_lo` bar on: a halo chunk,
    or a whole series with emit_lo = 0 (engine/tokens.py). A phantom chunk
    (no bar at or past emit_lo) emits nothing."""
    if len(m1_pdf) and m1_pdf["bar_index"].max() < emit_lo:
        m1_pdf = m1_pdf.iloc[:0]
    out = compute_features_pdf(
        m1_pdf, m5_pdf, warmup_bars=warmup_bars,
        bar_index_offset=int(m1_pdf["bar_index"].min()) if len(m1_pdf) else 0,
        m5_index_offset=int(m5_pdf["bar_index"].min()) if len(m5_pdf) else 0)
    return out[out["bar_index"] >= emit_lo].drop(columns=["bar_index"])


def _chunk_fn(chunk_bars: int, warmup_bars: int, cfg: LabelConfig):
    """One (source, chunk) group: its tagged bars and haloed ticks -> the
    chunk's feature rows, each with its label."""
    def fn(key, bars_pdf, ticks_pdf):
        tf = bars_pdf["tf"].to_numpy()
        out = emitted_features(bars_pdf[tf == 1], bars_pdf[tf == 5],
                               int(key[1]) * chunk_bars, warmup_bars)
        out["label"] = (labels_for_source(out, ticks_pdf, cfg)["label"]
                        .to_numpy() if len(out) else 0)
        return out
    return fn


def _labels_fn(cfg: LabelConfig):
    def fn(key, em_pdf, ticks_pdf):
        out = labels_for_source(em_pdf, ticks_pdf, cfg, with_metadata=True)
        out.insert(0, "source", key[0])
        return out
    return fn


def _bars_and_ticks(ticks: DataFrame, chunk_bars: int, warmup_bars: int,
                    cfg: LabelConfig):
    """The builder's bar stage and every chunk's haloed ticks. Everything
    derives from the one tick scan, so callers build it under
    unambiguous_self_join. Returns (m1, m5, emissions, haloed ticks), the
    last two keyed by (source, chunk)."""
    if "seq" not in ticks.columns:
        ticks = ebars.with_seq(ticks)
    # consumed twice: the bar pass and the tick halo
    ticks = ticks.persist()
    base = ebars.aggregate_bars_partial(ticks, 1).persist()
    m1 = ebars.finish_bars(base)
    m5 = ebars.finish_bars(ebars.bars_from_lower(base, 5))

    emissions = (m1.filter(F.col("bar_index") >= warmup_bars)
                 .select("source",
                         F.floor(F.col("bar_index") / F.lit(chunk_bars))
                         .alias("chunk"),
                         F.col("bar_ts_us").alias("ts_us"), "completion_seq"))
    ranges = (emissions.groupBy("source", "chunk")
              .agg(F.min("completion_seq").alias("t_lo"),
                   (F.max("completion_seq") + F.lit(cfg.max_future_ticks))
                   .alias("t_hi"))
              .withColumn("bkt", _span(F.col("t_lo"), F.col("t_hi"),
                                       TICK_BUCKET)))
    haloed = (ticks.select("source", "seq", "bid", "ask")
              .withColumn("bkt", F.floor(F.col("seq") / F.lit(TICK_BUCKET)))
              .join(ranges, ["source", "bkt"])
              .filter(F.col("seq").between(F.col("t_lo"), F.col("t_hi")))
              .drop("bkt", "t_lo", "t_hi"))
    return m1, m5, emissions, haloed


def run_pipeline_salted(spark: SparkSession, ticks: DataFrame,
                        chunk_bars: int = CHUNK_BARS,
                        warmup_bars: int = WARMUP_BARS,
                        label_cfg: LabelConfig | None = None) -> DataFrame:
    """ticks: (source, ts, bid, ask[, seq]). Returns the feature+label rows:
    (source, ts_us, <148 features>, label, timestamp)."""
    cfg = label_cfg or LabelConfig()
    # the whole plan construction derives from one tick scan, so it runs
    # under the scoped self-join-heuristic override (engine/pipeline.py) —
    # restored before this function returns
    with unambiguous_self_join(spark):
        m1, m5, _, haloed = _bars_and_ticks(ticks, chunk_bars, warmup_bars,
                                            cfg)
        b = F.col("bar_index")
        m1h = m1.select(*BAR_COLS, F.lit(1).alias("tf"),
                        _span(b, b + F.lit(M1_HALO), chunk_bars).alias("chunk"))
        last = F.col("last_lower_index")
        seen_to = F.coalesce(
            F.lead(last, M5_HALO).over(
                Window.partitionBy("source").orderBy("bar_ts_us")) - F.lit(1),
            last + F.lit(5 * M5_HALO + 5))
        m5h = (m5.withColumn("seen_to", seen_to)
               .select(*BAR_COLS, F.lit(5).alias("tf"),
                       _span(last, F.col("seen_to"), chunk_bars).alias("chunk")))
        features = (m1h.unionByName(m5h).groupBy("source", "chunk")
                    .cogroup(haloed.groupBy("source", "chunk"))
                    .applyInPandas(_chunk_fn(chunk_bars, warmup_bars, cfg),
                                   schema=FEATURES_LABELED_SCHEMA))
        return features.select("source", "ts_us", *FEATURE_NAMES, "label",
                               "timestamp")


def label_table(spark: SparkSession, ticks: DataFrame,
                warmup_bars: int = WARMUP_BARS,
                label_cfg: LabelConfig | None = None) -> DataFrame:
    """Standalone label surface: (source, ts_us, label, LabelResult
    metadata) — the full LabelGenerator.cs:17-27 output (confidence,
    per-side profit pips, MAE/MFE, time-to-target, risk-reward, quality),
    which the reference computes but never persists (Program.cs:323).
    The builder's own bar stage and chunk tick ranges; no M5 bars."""
    cfg = label_cfg or LabelConfig()
    with unambiguous_self_join(spark):
        _, _, emissions, haloed = _bars_and_ticks(ticks, CHUNK_BARS,
                                                  warmup_bars, cfg)
        return (emissions.groupBy("source", "chunk")
                .cogroup(haloed.groupBy("source", "chunk"))
                .applyInPandas(_labels_fn(cfg), schema=LABEL_META_SCHEMA))

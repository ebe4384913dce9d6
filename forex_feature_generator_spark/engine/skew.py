"""The feature builder: ticks -> M1/M5 bars -> 148 features + label per
emission, halo-chunked (SURVEY §4 axis B). It is the one execution path for
the CLI, run_resumable and the label surface.

  ticks [+ seq] (persisted) -> partial M1 bars -> completed M1, M5 bars
    (engine/bars.py: one tick-sized pass; M5 derives from the M1 partials)
  -> chunk bounds: per (source, chunk of chunk_bars M1 bars) the bar range,
     the tick range and the visible-M5 range
  -> cogroup(emissions, haloed ticks) per chunk -> labels
  -> labels joined onto the NARROW m1 bar stream
  -> cogroup(haloed m1 + label, haloed m5) per chunk -> 150-column output

Per-entity windows are order-dependent, so plain salting would corrupt them.
Instead each source's bar stream is cut into fixed-size chunks that carry a
read-only HALO of preceding state:

  * M1 halo: 620 bars = 499 (anchored window) + ~100 (deepest emission-state
    ring: regime duration walks 100 previous emissions) + slack
  * M5 halo: 620 visible M5 bars before the chunk's first emission, located
    exactly via an as-of count of completed M5 bars at the chunk boundary
  * label halo: ticks up to completion_seq(last bar) + the label config's
    max_future_ticks forward ticks

Each chunk computes features/labels with full fidelity and EMITS only its own
bar range, so results do not depend on chunk_bars (tests/test_skew.py). A
source with at most chunk_bars bars is a single chunk; a 10x-hot source
becomes ceil(n/chunk) parallel tasks instead of one straggler.

Shuffle budget: labels are fused into the feature cogroup by joining them
onto the bar stream BEFORE the kernel, so the wide 150-column output is never
shuffled, broadcast or re-joined (the label side is one row per emission —
unbounded at 100 TB, so a broadcast there would be a driver-OOM scale killer;
the bars⋈labels join is narrow⋈narrow and AQE picks the strategy).

Scale shape of the replication joins: a naive equi-join on `source` followed
by a range filter generates |rows| x |chunks-per-source| candidates — at
100 TB a hot source has thousands of chunks and the join itself becomes
quadratic. Instead every range [lo, hi] is EXPLODED into the coarse buckets it
overlaps and the join key is (source, bucket): each row probes O(1) candidate
ranges regardless of how many chunks the source has, and the key carries the
bucket so hot sources no longer skew the join either. The bounds table (one
row per source-chunk) stays distributed — no driver toPandas(); lineage to
m1/m5 is broken with an RDD round-trip so the joins cannot alias-collide.

Chunk-0 caveat: the absolute-run-count gates (warm-up 260, emission-state
counts <= 110) only affect bar indices < ~560, which always live in chunk 0
with a complete prefix — later chunks pass every gate, and their ring-buffer
reads stay inside the halo.

Residual per-source work: nothing tick-sized sorts per source (direction
lives in the bar groupBy); the remaining partitionBy(source) windows (bar
boundary direction, completion/index, chunk bounds) run over BARS — 1-3
orders of magnitude smaller than ticks (a decade of minute bars is ~5M narrow
rows, one bounded sort task)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle.labels import LabelConfig
from ..oracle.pipeline import FEATURE_NAMES
from . import bars as ebars
from .features import compute_features_pdf, WARMUP_BARS
from .labels import labels_for_source
from .pipeline import (FEATURES_LABELED_SCHEMA, LABEL_META_SCHEMA,
                       LABELS_SCHEMA, attach_label, unambiguous_self_join)

M1_HALO = 620
M5_HALO = 620
TICK_BUCKET = 1 << 16
CHUNK_BARS = 4000


def _chunk_bounds(m1: DataFrame, m5: DataFrame, chunk_bars: int) -> DataFrame:
    """Per (source, chunk): m1 bar-index range, tick range, and the visible-M5
    global-index range (as-of counts at the chunk boundaries)."""
    c = (m1.withColumn("chunk", (F.col("bar_index") / F.lit(chunk_bars)).cast("long"))
         .groupBy("source", "chunk")
         .agg(F.min("bar_index").alias("b_lo"), F.max("bar_index").alias("b_hi"),
              F.min("completion_seq").alias("comp_lo"),
              F.max("completion_seq").alias("comp_hi"),
              F.min("first_seq").alias("tick_lo")))
    # as-of: number of m5 bars completed at or before each chunk boundary.
    # Sorted-merge as-of (union + forward-fill window) — a non-equi join here
    # would be a nested-loop explosion (measured ~700 CPU-s at 15M ticks).
    from .windows import asof_join_backward
    m5b = m5.select("source", F.col("completion_seq").alias("m5_comp"),
                    F.col("bar_index").alias("m5_idx"))

    def m5_count(comp: str, name: str) -> DataFrame:
        return (asof_join_backward(c.select("source", "chunk", comp),
                                   m5b, ["source"], comp, "m5_comp", ["m5_idx"])
                .select("source", "chunk",
                        F.coalesce(F.col("m5_idx") + 1, F.lit(0)).alias(name)))
    return (c.join(m5_count("comp_lo", "m5c_start"), ["source", "chunk"])
            .join(m5_count("comp_hi", "m5c_end"), ["source", "chunk"]))


def _bucketed(bounds_sel: DataFrame, lo: str, hi: str, bucket: int) -> DataFrame:
    """Explodes each [lo, hi] range row into the coarse buckets it overlaps so
    the replication join can use (source, bkt) as an equi key."""
    return bounds_sel.withColumn(
        "bkt", F.explode(F.sequence(F.floor(F.col(lo) / F.lit(bucket)),
                                    F.floor(F.col(hi) / F.lit(bucket)))))


def _features_fn(warmup_bars: int):
    """Feature kernel over one group's bars: a halo chunk that emits from its
    `emit_lo` bar, or a whole series with emit_lo = 0 (engine/tokens.py).
    A label column on the bar stream passes through (attach_label)."""
    def fn(key, m1_pdf, m5_pdf):
        lo = int(m1_pdf["emit_lo"].iloc[0])
        base = int(m1_pdf["bar_index"].min())
        m5_base = int(m5_pdf["bar_index"].min()) if len(m5_pdf) else 0
        out = compute_features_pdf(
            m1_pdf, m5_pdf, warmup_bars=warmup_bars,
            bar_index_offset=base, m5_index_offset=m5_base)
        out = out[out["bar_index"] >= lo].drop(columns=["bar_index"])
        out["source"] = key[0]
        return attach_label(out, m1_pdf)
    return fn


def _labels_fn(cfg: LabelConfig, with_metadata: bool):
    def fn(key, em_pdf, ticks_pdf):
        out = labels_for_source(em_pdf, ticks_pdf, cfg,
                                with_metadata=with_metadata)
        out.insert(0, "source", key[0])
        return out
    return fn


def _bars_and_labels(spark: SparkSession, ticks: DataFrame, chunk_bars: int,
                     warmup_bars: int, cfg: LabelConfig,
                     with_metadata: bool):
    """The builder's bar stage, chunk bounds and chunked label cogroup.
    Everything derives from the one tick scan, so callers build it under
    unambiguous_self_join. Returns (m1, m5, bounds, labels)."""
    if "seq" not in ticks.columns:
        ticks = ebars.with_seq(ticks)
    # consumed twice: the bar pass and the label halo replication
    ticks = ticks.persist()
    base = ebars.aggregate_bars_partial(ticks, 1).persist()
    m1 = ebars.finish_bars(base).persist()
    m5 = ebars.finish_bars(ebars.bars_from_lower(base, 5)).persist()

    # The bounds table is tiny (one row per source-chunk) and STAYS
    # distributed. The RDD round-trip breaks the shared lineage with m1/m5
    # (fresh attribute ids) so the replication joins cannot resolve the two
    # sides to the same attributes; persist so it computes once.
    raw_bounds = _chunk_bounds(m1, m5, chunk_bars)
    bounds = spark.createDataFrame(raw_bounds.rdd, raw_bounds.schema).persist()

    # one cogroup over (emissions, haloed ticks) per chunk
    emissions = (m1.filter(F.col("bar_index") >= warmup_bars)
                 .withColumn("chunk", (F.col("bar_index") / F.lit(chunk_bars)).cast("long"))
                 .select("source", "chunk", F.col("bar_ts_us").alias("ts_us"),
                         "completion_seq"))
    tick_ranges = _bucketed(
        bounds.select("source", "chunk",
                      F.col("comp_lo").alias("t_lo"),
                      (F.col("comp_hi") + F.lit(cfg.max_future_ticks)).alias("t_hi")),
        "t_lo", "t_hi", TICK_BUCKET)
    ticks_r = (ticks.select("source", "seq", "bid", "ask")
               .withColumn("bkt", F.floor(F.col("seq") / F.lit(TICK_BUCKET)))
               .join(tick_ranges, ["source", "bkt"])
               .filter((F.col("seq") >= F.col("t_lo")) & (F.col("seq") <= F.col("t_hi")))
               .drop("bkt", "t_lo", "t_hi"))
    labels = (emissions.groupBy("source", "chunk")
              .cogroup(ticks_r.groupBy("source", "chunk"))
              .applyInPandas(_labels_fn(cfg, with_metadata),
                             schema=LABEL_META_SCHEMA if with_metadata
                             else LABELS_SCHEMA))
    return m1, m5, bounds, labels


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
        m1, m5, bounds, labels = _bars_and_labels(
            spark, ticks, chunk_bars, warmup_bars, cfg, with_metadata=False)

        # fuse: labels joined onto the NARROW bar stream before replication, so
        # the wide feature output is never shuffled or broadcast (labels come out
        # of applyInPandas with fresh attributes)
        m1l = m1.join(labels.select("source", F.col("ts_us").alias("bar_ts_us"),
                                    "label"),
                      ["source", "bar_ts_us"], "left")

        # replicate m1 bars into [b_lo - M1_HALO, b_hi]
        m1_ranges = _bucketed(
            bounds.select("source", "chunk",
                          (F.col("b_lo") - F.lit(M1_HALO)).alias("rlo"),
                          F.col("b_hi").alias("rhi"),
                          F.col("b_lo").alias("emit_lo")),
            "rlo", "rhi", chunk_bars)
        m1r = (m1l.withColumn("bkt", F.floor(F.col("bar_index") / F.lit(chunk_bars)))
               .join(m1_ranges, ["source", "bkt"])
               .filter((F.col("bar_index") >= F.col("rlo"))
                       & (F.col("bar_index") <= F.col("rhi")))
               .drop("bkt", "rlo", "rhi"))
        # replicate m5 bars into visible range [m5c_start - M5_HALO, m5c_end)
        m5_ranges = _bucketed(
            bounds.select("source", "chunk",
                          (F.col("m5c_start") - F.lit(M5_HALO)).alias("rlo"),
                          F.col("m5c_end").alias("rhi")),
            "rlo", "rhi", chunk_bars)
        m5r = (m5.withColumn("bkt", F.floor(F.col("bar_index") / F.lit(chunk_bars)))
               .join(m5_ranges, ["source", "bkt"])
               .filter((F.col("bar_index") >= F.col("rlo"))
                       & (F.col("bar_index") < F.col("rhi")))
               .drop("bkt", "rlo", "rhi"))

        features = (m1r.groupBy("source", "chunk")
                    .cogroup(m5r.groupBy("source", "chunk"))
                    .applyInPandas(_features_fn(warmup_bars),
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
    The builder's own bar stage and chunked label cogroup."""
    with unambiguous_self_join(spark):
        return _bars_and_labels(spark, ticks, CHUNK_BARS, warmup_bars,
                                label_cfg or LabelConfig(),
                                with_metadata=True)[3]

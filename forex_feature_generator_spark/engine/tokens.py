"""North-rule pipeline over the tokenized-sequence table
(doc_id, tokens: array<int32>, n_tok, source) — BASELINE.json input_hint.

Bar-series mapping (FIXTURES.md F2): each row becomes an M1-like bar
  open  = float(tokens[0])        high = float(max(tokens))
  low   = float(min(tokens))      close = float(tokens[-1])
  tick_volume = n_tok             spread = (high-low)/1e4
  up/down volume from sign(close - lag(close)) over the doc_id order
so the reference feature kernel applies unchanged while `tokens` passes
through BYTE-IDENTICAL (per-row invariant).

Two feature surfaces:
  1. `window_features` — backfill / lag-lead deltas / gap-sessionize /
     rolling mean-std-min-max-range / decayed mean, all pure pyspark.sql
     windows (JVM, whole-stage codegen).
  2. `full_features` — the 148 reference calculators over the derived bar
     series via the same cogrouped Arrow kernel as the tick pipeline
     (M5-analog = 5-row tumbling aggregation on the derived minute clock);
     each source is one group that emits from bar 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .pipeline import FEATURES_SCHEMA
from .skew import emitted_features
from . import windows as WIN

EPOCH_US = 1704153600000000  # 2024-01-02T00:00:00Z, matches synth.EPOCH


def with_derived_series(seqs: DataFrame) -> DataFrame:
    """Adds the bar-series mapping columns + a per-source minute clock
    derived from the doc_id order (row i -> epoch + i minutes)."""
    w = Window.partitionBy("source").orderBy("doc_id")
    df = (seqs
          .withColumn("seq", (F.row_number().over(w) - F.lit(1)).cast("long"))
          .withColumn("ts_us", F.lit(EPOCH_US) + F.col("seq") * F.lit(60_000_000).cast("long"))
          .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
          # F.get is NULL-safe out-of-bounds — an empty tokens array yields
          # NULL series values instead of an ANSI element_at error
          .withColumn("open", F.get("tokens", F.lit(0)).cast("double"))
          .withColumn("high", F.array_max("tokens").cast("double"))
          .withColumn("low", F.array_min("tokens").cast("double"))
          .withColumn("close",
                      F.get("tokens", F.size("tokens") - 1).cast("double"))
          .withColumn("tick_volume", F.col("n_tok").cast("long"))
          .withColumn("spread", (F.col("high") - F.col("low")) / F.lit(1e4)))
    prev_close = F.lag("close").over(w)
    df = (df
          .withColumn("up", (prev_close.isNotNull() & (F.col("close") > prev_close)).cast("long"))
          .withColumn("down", (prev_close.isNotNull() & (F.col("close") < prev_close)).cast("long")))
    return df


def window_features(seqs: DataFrame, session_gap_rows: int = 5,
                    rolling_rows: int = 20) -> DataFrame:
    """Pure window-function feature set; tokens pass through untouched."""
    df = with_derived_series(seqs)
    df = WIN.sessionize(df, "ts", session_gap_rows * 60.0, ["source"])
    df = WIN.lag_lead_deltas(df, "close", ["source"], "seq", lags=(1, 5), leads=(1,))
    df = WIN.rolling(df, "close", ["source"], "seq", rolling_rows)
    df = WIN.rolling(df, "tick_volume", ["source"], "seq", rolling_rows,
                     stats=("mean", "std"))
    df = WIN.decayed_mean(df, "close", ["source"], "seq", rolling_rows, decay=0.9)
    # backfill over an intentionally-sparse column (every 7th close observed)
    df = df.withColumn("close_sparse",
                       F.when(F.col("seq") % 7 == 0, F.col("close")))
    df = WIN.forward_fill(df, "close_sparse", ["source"], "seq", "close_backfilled")
    return df


def _derived_bars(seqs_series: DataFrame, tf_rows: int) -> DataFrame:
    """Tumbling tf_rows-row aggregation of the derived series into bars with
    the engine's bar schema (completion semantics: next bar's first seq)."""
    tf_us = tf_rows * 60_000_000
    g = (seqs_series
         .withColumn("bar_ts_us", F.col("ts_us") - (F.col("ts_us") % F.lit(tf_us)))
         .groupBy("source", "bar_ts_us")
         .agg(F.min_by("open", "seq").alias("open"),
              F.max("high").alias("high"),
              F.min("low").alias("low"),
              F.max_by("close", "seq").alias("close"),
              F.sum("tick_volume").alias("tick_volume"),
              F.sum("up").alias("up"),
              F.sum("down").alias("down"),
              F.avg("spread").alias("avg_spread"),
              F.max("spread").alias("max_spread"),
              F.min("spread").alias("min_spread"),
              F.min("seq").alias("first_seq")))
    w = Window.partitionBy("source").orderBy("bar_ts_us")
    return (g.withColumn("completion_seq", F.lead("first_seq").over(w))
             .withColumn("bar_index", F.row_number().over(w) - F.lit(1))
             .filter(F.col("completion_seq").isNotNull()))


def chunk_sequences(seqs: DataFrame, max_len: int = 128,
                    overlap: int = 0) -> DataFrame:
    """Context-length chunking — the complement of pack_sequences: long
    documents split into <= max_len-token segments, consecutive segments
    sharing `overlap` tokens (sliding training windows). Output one row per
    chunk: (doc_id, source, chunk_idx, chunk_tokens, chunk_len), chunk_idx
    0-based; a doc with n_tok <= max_len yields itself as chunk 0. Empty
    docs yield no chunks.

    Scale shape: a pure per-row explode + slice — no shuffle, no UDF; the
    chunk count per row is ceil((n_tok - overlap) / stride), all JVM
    higher-order functions."""
    if not 0 <= overlap < max_len:
        raise ValueError("need 0 <= overlap < max_len")
    stride = max_len - overlap
    n_chunks = F.greatest(F.ceil((F.col("n_tok") - F.lit(overlap))
                          / F.lit(stride)).cast("int"), F.lit(1))
    # guard empty docs BEFORE sequence(): sequence(0, -1) would generate a
    # DESCENDING [0, -1], not an empty list
    idxs = F.when(F.col("n_tok") <= 0, F.array().cast("array<int>")) \
        .otherwise(F.sequence(F.lit(0), n_chunks - 1))
    idx = F.explode(idxs).alias("chunk_idx")
    out = seqs.select("doc_id", "source", "tokens", "n_tok", idx)
    start = F.col("chunk_idx") * F.lit(stride) + 1       # slice is 1-based
    chunk = F.slice(F.col("tokens"), start, F.lit(max_len))
    return (out.select("doc_id", "source", "chunk_idx",
                       chunk.alias("chunk_tokens"))
            .withColumn("chunk_len", F.size("chunk_tokens")))


def fim_transform(seqs: DataFrame, rate: float = 0.5, seed: int = 101,
                  pre_tok: int = -1, mid_tok: int = -2,
                  suf_tok: int = -3) -> DataFrame:
    """Fill-in-the-middle restructuring of token sequences (Bavarian et al.
    2022, "Efficient Training of Language Models to Fill in the Middle" —
    public paper), PSM layout: a `rate` fraction of documents is split at
    two points and re-emitted as

        [PRE] prefix [SUF] suffix [MID] middle

    so the model learns to infill; the rest pass through unchanged. The
    apply decision and both split points are pure functions of
    (seed, doc_id) via the shared md5 unit hash — reproducible, oracle-
    checkable, and stable under re-runs. Docs shorter than 4 tokens are
    never transformed (each of the three spans must be non-empty).
    Split points: p1 = 1 + h1 % (n-2) in [1, n-2], then
    p2 = p1 + 1 + h2 % (n-1-p1) in [p1+1, n-1]; spans are
    tokens[:p1] / tokens[p1:p2] / tokens[p2:].

    Output: input columns + fim_applied + fim_tokens + fim_len
    (= n_tok + 3 when applied). Scale shape: pure per-row JVM slice/concat
    projection — no shuffle, no UDF, no Python in the hot path."""
    from ..ops.sampling import HASH_BUCKETS, _unit_hash
    n = F.col("n_tok").cast("long")
    applied = ((_unit_hash("doc_id", seed) < int(rate * HASH_BUCKETS))
               & (n >= 4))
    p1 = F.lit(1) + _unit_hash("doc_id", seed + 1) % (n - 2)
    p2 = p1 + 1 + _unit_hash("doc_id", seed + 2) % (n - 1 - p1)
    toks = F.col("tokens")
    fim = F.concat(
        F.array(F.lit(pre_tok)), F.slice(toks, 1, p1),
        F.array(F.lit(suf_tok)),
        F.slice(toks, (p2 + 1).cast("int"), (n - p2).cast("int")),
        F.array(F.lit(mid_tok)),
        F.slice(toks, (p1 + 1).cast("int"), (p2 - p1).cast("int")))
    out = F.when(applied, fim).otherwise(toks)
    return (seqs.withColumn("fim_applied", applied)
            .withColumn("fim_tokens", out)
            .withColumn("fim_len", F.size("fim_tokens").cast("long")))


def pack_sequences(seqs: DataFrame, seq_len: int = 1024,
                   tok_col: str = "n_tok", order_col: str = "doc_id",
                   group_cols: list[str] | None = None) -> DataFrame:
    """Concatenation-split packing plan for fixed-length training sequences:
    documents are laid end-to-end in `order_col` order (per group), and each
    doc is assigned the pack its FIRST token lands in — pack_id =
    floor(offset / seq_len), pack_offset = offset % seq_len, where offset is
    the exclusive running token sum. Pure window arithmetic (one shuffle per
    group), identical in the DuckDB oracle; the actual byte movement happens
    at write time from this plan."""
    groups = group_cols if group_cols is not None else ["source"]
    w = Window.partitionBy(*groups).orderBy(order_col)
    offset = (F.coalesce(
        F.sum(F.col(tok_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)).cast("long"))
    return (seqs
            .withColumn("pack_id", (offset / F.lit(seq_len)).cast("long"))
            .withColumn("pack_offset", offset % F.lit(seq_len)))


def full_features(seqs: DataFrame, warmup_bars: int = 260) -> DataFrame:
    """148 reference features over the derived bar series, joined back to the
    original rows; `tokens` byte-identical pass-through."""
    series = with_derived_series(seqs)
    m1 = _derived_bars(series, 1)
    m5 = _derived_bars(series, 5)

    def fn(m1_pdf, m5_pdf):
        return emitted_features(m1_pdf, m5_pdf, 0, warmup_bars)
    feats = (m1.groupBy("source").cogroup(m5.groupBy("source"))
             .applyInPandas(fn, schema=FEATURES_SCHEMA))
    return (series
            .select("source", "doc_id", "tokens", "n_tok", "ts_us")
            .join(feats.drop("completion_seq", "timestamp"),
                  ["source", "ts_us"], "inner"))

"""Tumbling-window OHLC bar aggregation — Spark-first re-expression of
BarAggregator.cs:34-141 (see oracle/bars.py for the sequential semantics).

Plan shape (the only tick-sized exchange is one partial-aggregated groupBy
on (source, bar_ts); every window after it runs over bars):

  ticks --groupBy(source, bar_ts): min_by/max_by/agg + in-bar tick pairs-->
        partial bars (tick direction inside each bar)
        --window lag(close) over (source, bar_ts)--> direction across bars
        --window lead over (source, bar_ts)--> completion tick + last-bar drop
  M5 partial bars derive from the M1 partial bars (bars_from_lower), so the
  tick stream is aggregated once for both timeframes.

Reference semantics preserved:
  * bar_ts = integer floor of tick ts to the timeframe
  * up/down tick direction vs previous bid ACROSS bar boundaries; the very
    first tick of a source has no direction (_lastBid == 0 guard)
  * a bar is complete only when a later tick exists -> the final bar per
    source is dropped; `completion_seq`/`completion_ts` identify the tick
    that completed the bar (the first tick of the next bar) — this is the
    as-of key for the M5->M1 join and the label entry tick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

US_PER_MIN = 60_000_000


def with_seq(ticks: DataFrame) -> DataFrame:
    w = Window.partitionBy("source").orderBy("ts")
    return ticks.withColumn("seq", F.row_number().over(w) - F.lit(1))


def _pair_dir(arr: str, field: str, op: str):
    """#consecutive pairs in a sorted struct array where cur.field <op>
    prev.field (JVM higher-order functions, no UDF)."""
    return F.expr(
        f"size(filter(zip_with(slice({arr}, 2, size({arr}) - 1), "
        f"slice({arr}, 1, size({arr}) - 1), (c, p) -> c.{field} {op} p.{field}), "
        "x -> x))").cast("long")


def aggregate_bars_partial(ticks: DataFrame, tf_minutes: int) -> DataFrame:
    """ALL bars including the final not-yet-completed one, carrying
    spread_sum and first_ts_us so higher timeframes can be DERIVED from this
    output (bars_from_lower) instead of re-scanning + re-shuffling the full
    tick stream — the tick-sized pass happens once.

    Up/down tick direction is computed INSIDE the bar groupBy (sorted tick
    pairs per bar) plus a bar-level boundary term against the previous bar's
    close — semantically identical to a per-tick lag(bid) (the previous tick
    of a bar's first tick IS the previous bar's last tick), but it removes
    the tick-level window's partitionBy(source): a 10x-hot source no longer
    becomes one giant sort task, and the only tick-sized exchange left in
    the whole pipeline is this groupBy's partial-aggregated shuffle.

    bar_index numbers the partial bars in time order (the boundary term's
    window): a completed bar keeps its number (finish_bars), and a higher
    timeframe records the last number it covers (bars_from_lower)."""
    tf_us = tf_minutes * US_PER_MIN
    # cast: accepts both session-tz TIMESTAMP and parquet TIMESTAMP_NTZ
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bar_ts = (us - (us % F.lit(tf_us))).alias("bar_ts_us")
    spread = F.col("ask") - F.col("bid")
    g = (
        ticks
        .withColumn("bar_ts_us", bar_ts)
        .groupBy("source", "bar_ts_us")
        .agg(
            F.min_by("bid", "seq").alias("open"),
            F.max("bid").alias("high"),
            F.min("bid").alias("low"),
            F.max_by("bid", "seq").alias("close"),
            F.count(F.lit(1)).alias("tick_volume"),
            F.sort_array(F.collect_list(F.struct("seq", "bid"))).alias("__tb"),
            F.sum(spread).alias("spread_sum"),
            F.max(spread).alias("max_spread"),
            F.min(spread).alias("min_spread"),
            F.min("seq").alias("first_seq"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("first_ts_us"),
        )
        .withColumn("__up_in", _pair_dir("__tb", "bid", ">"))
        .withColumn("__down_in", _pair_dir("__tb", "bid", "<"))
        .drop("__tb"))
    # boundary: the bar's first tick vs the previous bar's close (the very
    # first tick of a source has no direction — the _lastBid == 0 guard)
    w = Window.partitionBy("source").orderBy("bar_ts_us")
    prev_close = F.lag("close").over(w)
    g = g.withColumn("bar_index", F.row_number().over(w) - F.lit(1))
    b_up = F.when(prev_close.isNotNull() & (F.col("open") > prev_close),
                  F.lit(1)).otherwise(F.lit(0))
    b_down = F.when(prev_close.isNotNull() & (F.col("open") < prev_close),
                    F.lit(1)).otherwise(F.lit(0))
    return (g.withColumn("up", (F.col("__up_in") + b_up).cast("long"))
            .withColumn("down", (F.col("__down_in") + b_down).cast("long"))
            .drop("__up_in", "__down_in"))


def bars_from_lower(partial: DataFrame, mult_minutes: int) -> DataFrame:
    """Higher-timeframe PARTIAL bars aggregated from lower-timeframe partial
    bars (e.g. M1 -> M5): exact for every field — the bucket's first/last
    tick are the first/last lower bar's, extrema and sums compose, and
    spread_sum re-aggregates losslessly. The tick stream is never touched.
    last_lower_index is the bar_index of the bucket's last lower bar: an M5
    bar completes with that M1 bar, so it is first visible at that M1
    emission (engine/skew.py)."""
    tf_us = mult_minutes * US_PER_MIN
    bucket = (F.col("bar_ts_us") - (F.col("bar_ts_us") % F.lit(tf_us))).alias("bar_ts_us")
    return (
        partial
        .select(F.col("source"), bucket, "open", "high", "low", "close",
                "tick_volume", "up", "down", "spread_sum", "max_spread",
                "min_spread", "first_seq", "first_ts_us", "bar_index")
        .groupBy("source", "bar_ts_us")
        .agg(
            F.min_by("open", "first_seq").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "first_seq").alias("close"),
            F.sum("tick_volume").alias("tick_volume"),
            F.sum("up").alias("up"),
            F.sum("down").alias("down"),
            F.sum("spread_sum").alias("spread_sum"),
            F.max("max_spread").alias("max_spread"),
            F.min("min_spread").alias("min_spread"),
            F.min("first_seq").alias("first_seq"),
            F.min("first_ts_us").alias("first_ts_us"),
            F.max("bar_index").alias("last_lower_index"),
        )
    )


def finish_bars(partial: DataFrame) -> DataFrame:
    """Completion semantics over partial bars: a bar completes when a later
    bar's first tick exists (BarAggregator.cs:39-56), so the final partial
    bar per source is dropped; adds bar_index and the avg spread."""
    w = Window.partitionBy("source").orderBy("bar_ts_us")
    return (
        partial
        .withColumn("avg_spread", F.col("spread_sum") / F.col("tick_volume"))
        .withColumn("completion_seq", F.lead("first_seq").over(w))
        .withColumn("completion_ts_us", F.lead("first_ts_us").over(w))
        .withColumn("bar_index", F.row_number().over(w) - F.lit(1))
        .filter(F.col("completion_seq").isNotNull())
        .drop("first_ts_us", "spread_sum")
    )


def aggregate_bars(ticks: DataFrame, tf_minutes: int) -> DataFrame:
    """ticks: (source, ts, bid, ask, seq). Returns COMPLETED bars:
    (source, bar_ts_us, open, high, low, close, tick_volume, up, down,
     max_spread, min_spread, first_seq, avg_spread, completion_seq,
     completion_ts_us, bar_index)."""
    return finish_bars(aggregate_bars_partial(ticks, tf_minutes))


def market_state(m5_bars: DataFrame, out_col: str = "market_state") -> DataFrame:
    """Market-state classifier (FeaturePipeline.cs:176-197) — the reference
    computes it per emission over the latest 20 M5 bars and never persists
    it; here it is an optional diagnostic column on the M5 bar stream (the
    state only changes when an M5 bar completes). Faithful quirks: fewer
    than 20 bars -> Normal, and the averages cover the 19 MOST RECENT bars
    (Take(19) on a most-recent-first list includes the current bar and
    excludes the oldest of the 20)."""
    w19 = Window.partitionBy("source").orderBy("bar_ts_us").rowsBetween(-18, 0)
    w20 = Window.partitionBy("source").orderBy("bar_ts_us").rowsBetween(-19, 0)
    rng = F.col("high") - F.col("low")
    n20 = F.count(F.lit(1)).over(w20)
    avg_vol = F.avg("tick_volume").over(w19)
    avg_rng = F.avg(rng).over(w19)
    cur_vol = F.col("tick_volume")
    state = (
        F.when(n20 < 20, F.lit("Normal"))
        .when((cur_vol > avg_vol * 2) | (rng > avg_rng * 2), F.lit("HighActivity"))
        .when((cur_vol < avg_vol * 0.5) & (rng < avg_rng * 0.5), F.lit("LowActivity"))
        .otherwise(F.lit("Normal")))
    return m5_bars.withColumn(out_col, state)

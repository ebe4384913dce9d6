"""Generic window-spec operators (north rule: backfill, lag/lead, sessionize,
rolling stats, as-of join) — all pure pyspark.sql window functions / built-in
expressions, JVM-side, no Python in the hot path.

These are the reusable building blocks behind both the tokens pipeline
(engine/tokens.py) and the driver query surface (__spark_entry__.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def sessionize(df: DataFrame, ts_col: str, gap_seconds: float,
               partition_cols: list[str], out_col: str = "session_id") -> DataFrame:
    """Gap-based session id: a new session starts when the gap from the
    previous event exceeds `gap_seconds` (SURVEY §2.9).
    session_id = running count of gap-breaks per partition (0-based)."""
    w = Window.partitionBy(*partition_cols).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # cast: parquet TIMESTAMP_NTZ and session-tz TIMESTAMP both accepted
    gap_us = (F.unix_micros(F.col(ts_col).cast("timestamp"))
              - F.unix_micros(prev.cast("timestamp")))
    is_new = F.when(prev.isNull() | (gap_us > int(gap_seconds * 1_000_000)), 1).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, (F.sum(is_new).over(wcum) - F.lit(1)).cast("long"))


def forward_fill(df: DataFrame, value_col: str, partition_cols: list[str],
                 order_col: str, out_col: str | None = None) -> DataFrame:
    """Backfill missing values with the most recent non-null earlier value."""
    w = (Window.partitionBy(*partition_cols).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(out_col or f"{value_col}_ffill",
                         F.last(value_col, ignorenulls=True).over(w))


def lag_lead_deltas(df: DataFrame, value_col: str, partition_cols: list[str],
                    order_col: str, lags=(1,), leads=(1,)) -> DataFrame:
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    for k in lags:
        df = (df.withColumn(f"{value_col}_lag{k}", F.lag(value_col, k).over(w))
                .withColumn(f"{value_col}_lag{k}_delta",
                            F.col(value_col) - F.lag(value_col, k).over(w)))
    for k in leads:
        df = (df.withColumn(f"{value_col}_lead{k}", F.lead(value_col, k).over(w))
                .withColumn(f"{value_col}_lead{k}_delta",
                            F.lead(value_col, k).over(w) - F.col(value_col)))
    return df


def rolling(df: DataFrame, value_col: str, partition_cols: list[str],
            order_col: str, window_rows: int,
            stats=("mean", "std", "min", "max", "range")) -> DataFrame:
    """Trailing rowsBetween(-(n-1), 0) rolling stats, all built-in aggregates."""
    w = (Window.partitionBy(*partition_cols).orderBy(order_col)
         .rowsBetween(-(window_rows - 1), 0))
    c = F.col(value_col)
    n = window_rows
    if "mean" in stats:
        df = df.withColumn(f"{value_col}_rmean{n}", F.avg(c).over(w))
    if "std" in stats:
        df = df.withColumn(f"{value_col}_rstd{n}", F.coalesce(F.stddev_samp(c).over(w), F.lit(0.0)))
    if "min" in stats:
        df = df.withColumn(f"{value_col}_rmin{n}", F.min(c).over(w))
    if "max" in stats:
        df = df.withColumn(f"{value_col}_rmax{n}", F.max(c).over(w))
    if "range" in stats:
        df = df.withColumn(f"{value_col}_rrange{n}",
                           F.max(c).over(w) - F.min(c).over(w))
    return df


def decayed_mean(df: DataFrame, value_col: str, partition_cols: list[str],
                 order_col: str, window_rows: int, decay: float = 0.9,
                 out_col: str | None = None) -> DataFrame:
    """Exponential-decay weighted trailing mean over a bounded window
    (weight of the k-rows-ago value is decay^k), all JVM-side.

    Two physical forms with identical values: for small windows an unrolled
    lag-sum (window_rows scalar lag expressions in one Window node — fully
    codegen'd, measured ~2.4x faster than the array path at n=20); for large
    windows higher-order functions over collect_list (the unrolled form
    would blow up codegen). Assumes a non-null value series (the two forms
    treat interior nulls differently: lag keeps the slot with weight 0,
    collect_list drops it)."""
    name = out_col or f"{value_col}_ema{window_rows}"
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    if window_rows <= 64:
        num, den = F.lit(0.0), F.lit(0.0)
        for k in range(window_rows):
            lv = F.lag(value_col, k).over(w)
            num = num + F.coalesce(lv * F.lit(decay ** k), F.lit(0.0))
            den = den + F.when(lv.isNotNull(), F.lit(decay ** k)).otherwise(F.lit(0.0))
        return df.withColumn(name, num / den)
    wf = w.rowsBetween(-(window_rows - 1), 0)
    vals = F.collect_list(F.col(value_col)).over(wf)     # oldest .. newest
    n = F.size(vals)
    weighted = F.aggregate(
        F.zip_with(vals,
                   F.transform(F.sequence(F.lit(1), n),
                               lambda i: F.pow(F.lit(decay), (n - i).cast("double"))),
                   lambda v, wt: v * wt),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = F.aggregate(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.pow(F.lit(decay), (n - i).cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)
    return df.withColumn(name, weighted / norm)


def asof_join_backward(left: DataFrame, right: DataFrame, by: list[str],
                       left_ts: str, right_ts: str,
                       value_cols: list[str],
                       strict: bool = False) -> DataFrame:
    """Sorted-merge backward as-of join (SURVEY §2.4): for every left row,
    attach the latest right row with right_ts <= left_ts (or < when strict),
    per `by` group — implemented as a union of the two event clocks + a
    forward-fill window, so the only exchange is one range/hash partition on
    `by` (no shuffle join, no row explosion; DuckDB oracle: ASOF JOIN)."""
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    rt = (right.select(
            *[F.col(b) for b in by],
            F.col(right_ts).alias("__ts"),
            F.lit(0).alias("__side"),
            *[F.col(c).alias(f"__r_{c}") for c in value_cols]))
    lcols = [F.col(c) for c in left.columns]
    lt = lt.select(*lcols, "__ts", "__side",
                   *[F.lit(None).cast(rt.schema[f"__r_{c}"].dataType).alias(f"__r_{c}")
                     for c in value_cols])
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort before left rows at equal ts (<=); after left rows when strict
    side_order = F.col("__side").asc() if not strict else F.col("__side").desc()
    w = (Window.partitionBy(*by).orderBy(F.col("__ts").asc(), side_order)
         .rowsBetween(Window.unboundedPreceding, 0))
    for c in value_cols:
        unioned = unioned.withColumn(
            f"__r_{c}", F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w))
    out = (unioned.filter(F.col("__side") == 1)
           .drop("__ts", "__side"))
    for c in value_cols:
        out = out.withColumnRenamed(f"__r_{c}", c)
    return out

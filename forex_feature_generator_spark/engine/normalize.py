"""Per-feature statistics + normalization — Spark re-expression of
FeatureStatisticsCollector + DataNormalizer (SURVEY §2.3, §3.3).

Stats: one single-pass aggregation (count/avg/stddev_samp/min/max + exact
`percentile` — the reference's nondeterministic 10k reservoir is replaced by
exact quantiles with the same interpolation formula; documented deviation).

Normalization: the 150-column select folds the 148 per-feature scalers into
literal expressions (a broadcast of a 148-row stats table collapsed by
constant folding) — a single narrow stage, no shuffle, full codegen."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle.pipeline import FEATURE_NAMES
from ..oracle.stats import normalization_type


EXACT_QUANTILE_MAX_ROWS = 20_000_000
APPROX_PERCENTILE_ACCURACY = 10_000   # max rank error = count/accuracy


def gated_quantile_agg(col, probabilities, n_rows: int):
    """THE size gate for every quantile computation in the engine: exact
    `percentile` below EXACT_QUANTILE_MAX_ROWS (one aggregation buffer holds
    every value of the group — fine at test scale, a driver/executor OOM at
    100 TB), `approx_percentile` above (t-digest-style mergeable sketch,
    rank error <= count/APPROX_PERCENTILE_ACCURACY)."""
    if n_rows <= EXACT_QUANTILE_MAX_ROWS:
        return F.percentile(col, F.lit(probabilities))
    return F.approx_percentile(col, F.lit(probabilities),
                               F.lit(APPROX_PERCENTILE_ACCURACY))


def exact_quantiles_frame(df: DataFrame, col: str,
                          probabilities: list[float]) -> DataFrame:
    """1-row frame [cuts: array<double>] with EXACTLY `F.percentile`'s
    values (same interpolation: position = p * (n-1), result =
    (ceil-pos)*v[floor] + (pos-floor)*v[ceil]), computed without the
    single-buffer percentile aggregate. The single-buffer agg builds a
    value->count hashmap per map task, serializes every map through the
    shuffle and merges + sorts them in ONE final task — on a high-
    cardinality column that is O(n) single-threaded hashmap work (q10 at
    sf1: ~45 s of its 60 s). Here the unavoidable exact step is a plain
    single-partition SORT of the (narrow, nulls-dropped) column + one pass
    of rank-picking aggregates — r7 profile: 2.03 s -> 0.26 s at sf0.1,
    and sort scales n·log n where the hashmap path degraded superlinearly.
    Gated like everything exact: callers switch to approx_percentile above
    EXACT_QUANTILE_MAX_ROWS (guide §5 — bounded per-task state)."""
    from pyspark.sql import Window
    n1 = df.agg(F.count(F.col(col)).alias("__n"))
    ranked = (df.select(F.col(col).alias("__v"))
              .filter(F.col("__v").isNotNull())
              .select("__v", F.row_number().over(
                  Window.orderBy("__v")).alias("__rn"))
              .crossJoin(F.broadcast(n1)))

    def _pos(p):
        return F.lit(float(p)) * (F.col("__n") - 1).cast("double")

    aggs = []
    for i, p in enumerate(probabilities):
        lo, hi = F.floor(_pos(p)), F.ceil(_pos(p))
        aggs += [F.min(F.when(F.col("__rn") == lo + 1,
                              F.col("__v"))).alias(f"__vl{i}"),
                 F.min(F.when(F.col("__rn") == hi + 1,
                              F.col("__v"))).alias(f"__vh{i}")]
    g = ranked.groupBy().agg(F.max("__n").alias("__n"), *aggs)
    cuts = []
    for i, p in enumerate(probabilities):
        pos = _pos(p)
        lo, hi = F.floor(pos), F.ceil(pos)
        cuts.append(F.when(lo == hi, F.col(f"__vl{i}")).otherwise(
            (hi.cast("double") - pos) * F.col(f"__vl{i}")
            + (pos - lo.cast("double")) * F.col(f"__vh{i}")))
    return g.select(F.array(*cuts).alias("cuts"))


def gated_quantiles_frame(df: DataFrame, col: str,
                          probabilities: list[float],
                          n_rows: int) -> DataFrame:
    """Frame-shaped twin of gated_quantile_agg: 1-row [cuts] via the
    distributed exact sort below the gate, the mergeable sketch above."""
    if n_rows <= EXACT_QUANTILE_MAX_ROWS:
        return exact_quantiles_frame(df, col, probabilities)
    return df.agg(F.approx_percentile(
        F.col(col), F.lit(probabilities),
        F.lit(APPROX_PERCENTILE_ACCURACY)).alias("cuts"))


def compute_stats(df: DataFrame, feature_cols: list[str] | None = None,
                  exact_quantiles: bool | None = None,
                  n_rows: int | None = None) -> pd.DataFrame:
    """Returns the stats table (feature,count,mean,stddev,min,max,q1,median,q3,iqr).

    Quantiles: exact `percentile` by default at test scale (deterministic —
    the reference's 10k reservoir is nondeterministic, documented deviation),
    but exact percentiles sort every feature column; above
    EXACT_QUANTILE_MAX_ROWS the size gate switches to `approx_percentile`
    (t-digest-style sketch, mergeable map-side, rank error <=
    count/APPROX_PERCENTILE_ACCURACY). Pass exact_quantiles explicitly to
    override the gate, or n_rows when the caller already knows the row count
    (avoids the dedicated count() scan — costliest exactly at the scale the
    gate exists for)."""
    cols = feature_cols or FEATURE_NAMES
    if exact_quantiles is None:
        if n_rows is None:
            n_rows = df.count()
        exact_quantiles = n_rows <= EXACT_QUANTILE_MAX_ROWS
    if exact_quantiles:
        def q_agg(finite):
            return F.percentile(finite, F.lit([0.25, 0.5, 0.75]))
    else:
        def q_agg(finite):
            return F.approx_percentile(finite, F.lit([0.25, 0.5, 0.75]),
                                       F.lit(APPROX_PERCENTILE_ACCURACY))
    aggs = []
    for c in cols:
        col = F.col(f"`{c}`")
        finite = F.when(~F.isnan(col) & ~col.isin(float("inf"), float("-inf")), col)
        aggs += [
            F.count(finite).alias(f"{c}__count"),
            F.avg(finite).alias(f"{c}__mean"),
            F.stddev_samp(finite).alias(f"{c}__stddev"),
            F.min(finite).alias(f"{c}__min"),
            F.max(finite).alias(f"{c}__max"),
            q_agg(finite).alias(f"{c}__q"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    out = []
    for c in cols:
        q = row[f"{c}__q"] or [0.0, 0.0, 0.0]
        std = row[f"{c}__stddev"]
        out.append((c, row[f"{c}__count"], row[f"{c}__mean"],
                    0.0 if std is None else std,
                    row[f"{c}__min"], row[f"{c}__max"],
                    q[0], q[1], q[2], q[2] - q[0]))
    return pd.DataFrame(out, columns=["feature", "count", "mean", "stddev",
                                      "min", "max", "q1", "median", "q3", "iqr"])


STATS_COLUMNS = ["feature", "count", "mean", "stddev", "min", "max",
                 "q1", "median", "q3", "iqr"]


def load_stats(path: str) -> pd.DataFrame:
    """Round-trip loader (FeatureStatisticsCollector.LoadStatistics)."""
    return pd.read_csv(path)[STATS_COLUMNS]


def normalize(df: DataFrame, stats: pd.DataFrame,
              feature_cols: list[str] | None = None) -> DataFrame:
    """Applies the per-feature scaler (DataNormalizer.cs:156-194) as literal
    column expressions; non-feature columns pass through unchanged."""
    cols = feature_cols or FEATURE_NAMES
    st = stats.set_index("feature")
    exprs = []
    for name in df.columns:
        if name not in st.index or name not in cols:
            exprs.append(F.col(f"`{name}`"))
            continue
        s = st.loc[name]
        c = F.col(f"`{name}`")
        t = normalization_type(name)
        bad = F.isnan(c) | c.isin(float("inf"), float("-inf"))
        if t == "standard":
            e = F.lit(0.0) if s["stddev"] < 1e-10 else (c - F.lit(float(s["mean"]))) / F.lit(float(s["stddev"]))
        elif t == "robust":
            e = F.lit(0.0) if s["iqr"] < 1e-10 else (c - F.lit(float(s["median"]))) / F.lit(float(s["iqr"]))
        elif t == "quantile":
            rng = s["max"] - s["min"]
            e = (F.lit(0.5) if rng < 1e-10 else
                 F.greatest(F.lit(0.0), F.least(F.lit(1.0),
                            (c - F.lit(float(s["min"]))) / F.lit(float(rng)))))
        elif t == "minmax":
            rng = s["max"] - s["min"]
            e = (F.lit(0.0) if rng < 1e-10 else
                 F.lit(2.0) * (c - F.lit(float(s["min"]))) / F.lit(float(rng)) - F.lit(1.0))
        else:
            e = c
        exprs.append(F.when(bad, F.lit(0.0)).otherwise(e).alias(name))
    return df.select(*exprs)

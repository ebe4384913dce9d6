"""Per-feature statistics + normalization — Spark re-expression of
FeatureStatisticsCollector + DataNormalizer (SURVEY §2.3, §3.3).

Stats run in long form: one `stack` turns the 148 feature columns into
(feature, v) rows, NaN/±inf become NULL (the reference skips them), and one
grouped pass by `feature` computes count/avg/stddev_samp/min/max and the
quartiles — 148 small groups in parallel instead of one 888-aggregate row.
The reference's nondeterministic 10k reservoir is replaced by exact
quantiles with the same interpolation formula (documented deviation).

Two quantile functions, both behind THE size gate EXACT_QUANTILE_MAX_ROWS
(exact at or below it, the mergeable `approx_percentile` sketch above):

  * quantiles_frame — a frame of (by…, aggs…, cuts). Its exact branch is a
    row_number rank-pick that equals `F.percentile` bit for bit without the
    percentile aggregate's single buffer per group. Used where a group can
    be large or high-cardinality: the stats (per feature), q10 (one global
    group) and q13 (three groups).
  * gated_quantile_agg — a plain aggregate column that rides along in a
    caller's own groupBy. Used only for many small, low-cardinality groups
    (q61's length profile, the ccnet cutpoints), where one partial hash
    aggregate beats a window's sort.

Normalization: the 150-column select folds the 148 per-feature scalers into
literal expressions (a broadcast of a 148-row stats table collapsed by
constant folding) — a single narrow stage, no shuffle, full codegen."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..oracle.pipeline import FEATURE_NAMES
from ..oracle.stats import normalization_type


EXACT_QUANTILE_MAX_ROWS = 20_000_000
APPROX_PERCENTILE_ACCURACY = 10_000   # max rank error = count/accuracy

STATS_COLUMNS = ["feature", "count", "mean", "stddev", "min", "max",
                 "q1", "median", "q3", "iqr"]


def gated_quantile_agg(col, probabilities, n_rows: int):
    """Quantile aggregate column for a caller's own groupBy: exact
    `percentile` at or below EXACT_QUANTILE_MAX_ROWS, `approx_percentile`
    above (t-digest-style mergeable sketch, rank error <=
    count/APPROX_PERCENTILE_ACCURACY).

    Only for low-cardinality group profiles (q61's length_profile, the
    ccnet cutpoints): there the percentile buffer per group is small and the
    aggregate partial-aggregates map-side in the caller's one groupBy —
    routing q61 through quantiles_frame's window measured slower (median
    0.71 s -> 1.00 s at sf0.01). For one large or high-cardinality group
    use quantiles_frame: the percentile buffer holds every value of the
    group and merges all of them in one task."""
    if n_rows <= EXACT_QUANTILE_MAX_ROWS:
        return F.percentile(col, F.lit(probabilities))
    return F.approx_percentile(col, F.lit(probabilities),
                               F.lit(APPROX_PERCENTILE_ACCURACY))


def quantiles_frame(df: DataFrame, col: str, probabilities: list[float],
                    n_rows: int, by=(), aggs=()) -> DataFrame:
    """(*by, *aggs, cuts: array<double>) — one row per group of `by` (one
    row in all when `by` is empty). `aggs` are aggregate columns over `df`
    computed in the same grouped pass; `cuts` are the `probabilities`
    quantiles of `col`, NULLs ignored (NULL cuts for an all-NULL group).

    At or below EXACT_QUANTILE_MAX_ROWS (the rows per group are at most
    `n_rows`) the cuts equal `F.percentile`'s bit for bit: a row_number and
    a count over Window.partitionBy(*by), then the groupBy picks the values
    at ranks floor(pos)+1 and ceil(pos)+1, pos = p·(n−1), and interpolates
    as Spark's Percentile does (no interpolation when the two are equal).
    The percentile aggregate itself builds a value->count hashmap per map
    task and merges and sorts them in ONE task per group — O(n)
    single-threaded on a high-cardinality column (q10 at sf1: ~45 s of its
    60 s; the wide stats row paid it 148 times in one task). Above the gate:
    one groupBy with `approx_percentile` (bounded per-task state)."""
    if n_rows > EXACT_QUANTILE_MAX_ROWS:
        return df.groupBy(*by).agg(*aggs, F.approx_percentile(
            F.col(col), F.lit(probabilities),
            F.lit(APPROX_PERCENTILE_ACCURACY)).alias("cuts"))
    v = F.col(col)
    w = Window.partitionBy(*by)
    ranked = df.select("*",
                       F.row_number().over(w.orderBy(v.asc_nulls_last()))
                       .alias("__rn"),
                       F.count(v).over(w).alias("__n"))
    positions = [F.lit(float(p)) * (F.col("__n") - 1).cast("double")
                 for p in probabilities]
    picks = []
    for i, pos in enumerate(positions):
        picks += [F.min(F.when(F.col("__rn") == F.floor(pos) + 1, v))
                  .alias(f"__vl{i}"),
                  F.min(F.when(F.col("__rn") == F.ceil(pos) + 1, v))
                  .alias(f"__vh{i}")]
    g = ranked.groupBy(*by).agg(*aggs, F.max("__n").alias("__n"), *picks)
    cuts = []
    for i, pos in enumerate(positions):
        lo, hi = F.floor(pos), F.ceil(pos)
        vl, vh = F.col(f"__vl{i}"), F.col(f"__vh{i}")
        cuts.append(F.when((lo == hi) | (vl == vh), vl).otherwise(
            (hi.cast("double") - pos) * vl + (pos - lo.cast("double")) * vh))
    return g.select(*[c for c in g.columns if not c.startswith("__")],
                    F.when(F.col("__n") > 0, F.array(*cuts)).alias("cuts"))


def compute_stats(df: DataFrame, n_rows: int | None = None) -> pd.DataFrame:
    """The stats table (STATS_COLUMNS, one row per FEATURE_NAMES entry, in
    that order) over the finite values of each feature column. Pass `n_rows`
    when the caller already knows the row count: it decides the quantile
    gate and saves a count() scan. A feature with no finite value gets
    oracle/stats.collect_stats' row: count 0, mean/stddev/quantiles 0.0,
    min +inf, max -inf."""
    if n_rows is None:
        n_rows = df.count()
    pairs = ", ".join(f"'{c}', `{c}`" for c in FEATURE_NAMES)
    # NaN sorts above +inf in Spark, so `abs(x) < inf` keeps exactly the
    # finite values (NULL otherwise)
    long = df.selectExpr(
        f"stack({len(FEATURE_NAMES)}, {pairs}) AS (feature, x)").selectExpr(
        "feature", "IF(abs(x) < double('Infinity'), x, NULL) AS v")
    rows = {r["feature"]: r for r in quantiles_frame(
        long, "v", [0.25, 0.5, 0.75], n_rows, by=["feature"],
        aggs=[F.count("v").alias("count"), F.avg("v").alias("mean"),
              F.stddev_samp("v").alias("stddev"), F.min("v").alias("min"),
              F.max("v").alias("max")]).collect()}
    out = []
    for c in FEATURE_NAMES:
        r = rows[c]
        if not r["count"]:
            out.append((c, 0, 0.0, 0.0, math.inf, -math.inf, 0.0, 0.0, 0.0,
                        0.0))
            continue
        q1, med, q3 = r["cuts"]
        out.append((c, r["count"], r["mean"],
                    0.0 if r["stddev"] is None else r["stddev"],
                    r["min"], r["max"], q1, med, q3, q3 - q1))
    return pd.DataFrame(out, columns=STATS_COLUMNS)


def load_stats(path: str) -> pd.DataFrame:
    """Round-trip loader (FeatureStatisticsCollector.LoadStatistics)."""
    return pd.read_csv(path)[STATS_COLUMNS]


def normalize(df: DataFrame, stats: pd.DataFrame) -> DataFrame:
    """Applies the per-feature scaler (DataNormalizer.cs:156-194) as literal
    column expressions; columns without a stats row pass through unchanged."""
    st = stats.set_index("feature")
    exprs = []
    for name in df.columns:
        if name not in st.index:
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

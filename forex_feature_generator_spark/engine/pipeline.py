"""Shared pieces of the feature builder (engine/skew.py, SURVEY §7.1): the
output schemas, the scoped self-join override the builder's plan
construction runs under, and the calculator column selection."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..oracle.pipeline import FEATURE_NAMES

FEATURES_SCHEMA = ("source string, ts_us long, timestamp long, completion_seq long, "
                   + ", ".join(f"`{c}` double" for c in FEATURE_NAMES))
FEATURES_LABELED_SCHEMA = FEATURES_SCHEMA + ", label int"
LABEL_META_SCHEMA = (
    "source string, ts_us long, label int, confidence double, "
    "long_profit_pips double, short_profit_pips double, mae_pips double, "
    "mfe_pips double, time_to_target int, risk_reward double, "
    "quality_score double")


@contextmanager
def unambiguous_self_join(spark: SparkSession):
    """Scopes spark.sql.analyzer.failAmbiguousSelfJoin=false to the
    pipeline's PLAN CONSTRUCTION. The single-pass design deliberately derives
    every stream (m1, m5, emissions, tick ranges) from one tick scan, so the
    dataset-id heuristic flags the tick join and the cogroup as potential
    self-join ambiguities even though each side carries fresh aggregation
    attributes and resolution is well-defined (verified by
    tests/test_skew.py chunk-size invariance). The heuristic fires only
    at Dataset construction time — downstream analysis of already-built plans
    does not re-run it — so restoring on exit leaves the session's safety net
    intact for every other query (asserted in test_skew)."""
    key = "spark.sql.analyzer.failAmbiguousSelfJoin"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# FeatureConfiguration equivalent (SURVEY §2.10): calculator enable/disable
# maps to column selection — the vectorized kernel computes the full vector
# (its intermediates are shared across calculators, so per-calculator skipping
# saves little), and gating is a free projection that Catalyst prunes.
CALCULATOR_PREFIXES = {
    "Directional": "01_dir_",
    "MarketRegimeContext": "02_",
    "MicrostructureOrderFlow": "03_micro_",
    "TechnicalIndicators": "04_tech_",
    "Position": "05_pos_",
    "DeepLearning": "06_dl_",
    "MachineLearning": "07_ml_",
}


def select_calculators(df: DataFrame, enabled: list[str]) -> DataFrame:
    """Keeps only the feature columns of the enabled calculators (plus all
    non-feature columns) — FeaturePipeline.RegisterCalculator + IsFeatureEnabled."""
    prefixes = tuple(CALCULATOR_PREFIXES[name] for name in enabled)
    keep = [c for c in df.columns
            if not c[:1].isdigit() or c.startswith(prefixes)]
    return df.select(*keep)


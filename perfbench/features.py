"""The `features` workload: the shipped CLI (spark_submit_main.py) on a
seeded tick corpus.

The corpus mixes ordinary sources, each one or two chunks, where halo
chunking is overhead, with one dense source (10x ticks per bar, so
tick-sized layers dominate) and one long source (~10x bars, so several
chunks). One pass is one run of the CLI's default path (`--input <ticks>
--output ...`) over it, with session.py's launch settings. `--normalize`,
`--resume` with its no-op re-run and `--mode tokens` would cost a run about
15 s, 20 s and 6 s more than the benchmark's time budget leaves.

The traced pass calls each layer's public functions directly, materializing
each layer before the next one starts: the timed job taken apart (bars,
pipeline, kernels, write), then the normalize, resume and tokens jobs, the
last on a seeded sequence table."""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time

import numpy as np
import pandas as pd

from . import inputs, procs
from .session import run_cli

# (sources, ticks per ordinary source, sequence sources, sequence rows)
SIZES = {"full": (5, 3000, 8, 6000), "smoke": (4, 2000, 4, 1500)}
BATCH_SOURCES = 3
CHUNK_BARS = 4000       # the CLI's default --chunk-bars

# tests/test_features_parity.py: two formulas divide one ulp-scale difference
# by another, so engine and oracle agree there to ~5e-10 absolute only
LOOSE = {"04_tech_ma_convergence": (1e-6, 1e-8),
         "07_ml_price_volume_correlation": (1e-6, 1e-8)}
RTOL, ATOL = 1e-9, 1e-12


def _snapshots(table: str) -> list[dict]:
    snaps = []
    for f in glob.glob(os.path.join(table, "_snapshots", "*.json")):
        with open(f) as fh:
            snaps.append(json.load(fh))
    return sorted(snaps, key=lambda s: s["snapshot_id"])


class Features:
    kind = "cli"
    min_passes = 1

    def __init__(self, root: str, work: str, seed: int, smoke: bool):
        self.root, self.work, self.seed = root, work, seed
        self.n_src, self.n_ticks, self.n_seq_src, self.n_seq = \
            SIZES["smoke" if smoke else "full"]

    # -- inputs, generated once per seed outside every timed window --------

    def prepare(self) -> dict:
        ticks = inputs.skewed_ticks(self.seed, self.n_src, self.n_ticks)
        seqs = inputs.sequences(self.seed, self.n_seq_src, self.n_seq)
        self.ticks = inputs.write_ticks(ticks, os.path.join(self.work, "ticks"))
        self.seq_dir = inputs.write_sequences(seqs,
                                              os.path.join(self.work, "seqs"))
        self.expect = inputs.expected_feature_rows(ticks)
        # oracle for one seeded ordinary source (the dense and the long one
        # would take the oracle about 20 s each)
        self.sample = random.Random(self.seed).choice(sorted(self.expect)[1:-1])
        from forex_feature_generator_spark.oracle.pipeline import run_source
        g = ticks[ticks["source"] == self.sample].sort_values("seq")
        self.oracle = run_source(
            g["ts"].to_numpy().astype("datetime64[us]").astype("int64"),
            g["bid"].to_numpy(), g["ask"].to_numpy())
        return {"ticks": f"{self.n_src} sources: src00 dense 10x ticks, "
                         f"src{self.n_src - 1:02d} long 10x bars, "
                         f"{self.n_ticks} ticks otherwise",
                "sequences": f"{self.n_seq} rows over {self.n_seq_src} "
                             "Zipf-skewed sources",
                "oracle_source": self.sample}

    def warm_up(self, spark) -> None:
        """No warm-up: in use each CLI job is its own cold spark-submit."""
        return None

    # -- one timed pass ------------------------------------------------------

    def run_pass(self, spark, k: int) -> dict:
        op = {"name": "cli", "out": os.path.join(self.work, f"out{k}"),
              "error": None, "printed": []}
        cpu0 = procs.split()
        t0 = time.perf_counter()
        try:
            op["printed"] = run_cli(self.root, ["--input", self.ticks,
                                                "--output", op["out"]])
        except Exception as e:                             # noqa: BLE001
            op["error"] = f"{type(e).__name__}: {e}"
        op["s"] = time.perf_counter() - t0
        op["cpu"] = procs.delta(cpu0, procs.split())
        op["rows"] = next((p["rows"] for p in op["printed"] if "rows" in p), 0)
        # the CLI process would end here and release its cached tables
        spark.catalog.clearCache()
        return {"ops": [op]}

    def summarize(self, p: dict) -> dict:
        ops = p["ops"]
        s = sum(o["s"] for o in ops)
        return {"s": s, "rows": sum(o["rows"] for o in ops),
                "n_ops": len(ops),
                "cpu": {k: sum(o["cpu"][k] for o in ops) for k in ops[0]["cpu"]},
                "by_op": {o["name"]: o["s"] for o in ops}}

    # -- output checks, outside the timed window ----------------------------

    def check(self, spark, p: dict) -> list[str]:
        bad = []
        for op in p["ops"]:
            msgs = [op["error"]] if op["error"] else []
            want = sum(self.expect.values())
            if not msgs and op["rows"] != want:
                msgs.append(f"rows {op['rows']} != {want}")
            if not msgs:
                try:
                    msgs += self._check_oracle(op["out"])
                except Exception as e:                     # noqa: BLE001
                    msgs.append(f"check raised {type(e).__name__}: {e}")
            if msgs:
                bad.append(f"{op['name']}: " + "; ".join(msgs))
        return bad

    def _check_oracle(self, out: str) -> list[str]:
        """The sampled source against the pure-Python oracle: timestamps and
        labels exact, features allclose."""
        bad = []
        got = (pd.read_parquet(os.path.join(out, f"source={self.sample}"))
               .sort_values("ts_us").reset_index(drop=True))
        exp = self.oracle.sort_values("ts_us").reset_index(drop=True)
        if len(got) != len(exp):
            return [f"{self.sample}: rows {len(got)} != oracle {len(exp)}"]
        for c in ("ts_us", "timestamp", "label"):
            if not (got[c].to_numpy("int64") == exp[c].to_numpy("int64")).all():
                bad.append(f"{self.sample}: {c} differs from the oracle")
        from forex_feature_generator_spark.oracle.pipeline import FEATURE_NAMES
        for c in FEATURE_NAMES:
            rtol, atol = LOOSE.get(c, (RTOL, ATOL))
            if not np.allclose(got[c].to_numpy("float64"),
                               exp[c].to_numpy("float64"),
                               rtol=rtol, atol=atol, equal_nan=True):
                bad.append(f"{self.sample}: feature {c} differs from the oracle")
        return bad

    def _check_manifests(self, snaps: list[dict],
                         rerun: dict) -> list[str | None]:
        """Two checks, each None when it passes: the snapshot chain covers
        every source exactly once; the no-op re-run commits nothing."""
        seen = [s for snap in snaps for s in snap["partitions"]]
        chain = rerun_ok = None
        if sorted(seen) != sorted(self.expect):
            chain = (f"manifest chain covers {sorted(seen)}, want each of "
                     f"{sorted(self.expect)} once")
        if rerun["snapshots"] or sorted(rerun["skipped"]) != sorted(seen):
            rerun_ok = (f"re-run committed {rerun['snapshots']} snapshots, "
                        f"skipped {rerun['skipped']}")
        return [chain, rerun_ok]

    # -- traced pass: each layer's public calls, materialized one by one ----

    def traced_pass(self, spark, tr) -> tuple[dict, list[str], int]:
        """Per-layer metrics, failed checks, checks attempted."""
        from pyspark.sql import functions as F
        from forex_feature_generator_spark.engine import (
            bars as ebars, normalize as enorm, skew as eskew,
            snapshots as esnap, tokens as etok)
        from forex_feature_generator_spark.engine.features import (
            compute_features_pdf)
        from forex_feature_generator_spark.engine.labels import compute_labels
        from forex_feature_generator_spark.engine.pipeline import (
            unambiguous_self_join)
        out = os.path.join(self.work, "traced")
        m = {}
        with unambiguous_self_join(spark):
            raw = spark.read.parquet(self.ticks)
            with tr.span("bars.seq"):
                ticks = ebars.with_seq(raw).persist()
                m["bars.ticks_in"] = ticks.count()
            with tr.span("bars.partial"):
                base = ebars.aggregate_bars_partial(ticks, 1).persist()
                base.count()
            with tr.span("bars.finish"):
                m1 = ebars.finish_bars(base).persist()
                m5 = ebars.finish_bars(ebars.bars_from_lower(base, 5)).persist()
                m["bars.m1_rows"] = m1.count()
                m["bars.m5_rows"] = m5.count()
        with tr.span("skew.pipeline"):
            feats = eskew.run_pipeline_salted(spark, ticks).persist()
            feats.write.format("noop").mode("overwrite").save()
        checks = []     # one entry per check: None, or what failed
        n_out = feats.count()
        want = sum(self.expect.values())
        checks.append(None if n_out == want
                      else f"traced pipeline rows {n_out} != {want}")
        m["skew.chunks"] = (m1.filter(F.col("bar_index") >= inputs.WARMUP_BARS)
                            .select("source", F.floor(F.col("bar_index") / CHUNK_BARS))
                            .distinct().count())

        # kernels on the driver, over every source's bars and ticks
        m1p, m5p = m1.toPandas(), m5.toPandas()
        tp = ticks.select("source", "seq", "bid", "ask").toPandas()
        n_rows = n_em = 0
        with tr.span("features.kernel"):
            for src, g1 in m1p.groupby("source"):
                n_rows += len(compute_features_pdf(
                    g1, m5p[m5p["source"] == src]))
        with tr.span("labels.kernel"):
            for src, g1 in m1p.groupby("source"):
                em = g1[g1["bar_index"] >= inputs.WARMUP_BARS]
                t = tp[tp["source"] == src].sort_values("seq")
                compute_labels(em["completion_seq"].to_numpy("int64"),
                               t["bid"].to_numpy("float64"),
                               t["ask"].to_numpy("float64"))
                n_em += len(em)
        m["features.kernel_s"] = tr.seconds("features.kernel")
        m["features.kernel_us_per_row"] = (m["features.kernel_s"]
                                           / max(n_rows, 1) * 1e6)
        m["labels.kernel_s"] = tr.seconds("labels.kernel")
        m["labels.kernel_us_per_emission"] = (m["labels.kernel_s"]
                                              / max(n_em, 1) * 1e6)

        table = os.path.join(out, "features")
        with tr.span("write"):
            feats.write.mode("overwrite").partitionBy("source").parquet(table)
        files = glob.glob(os.path.join(table, "*", "*.parquet"))
        m["write.mb"] = sum(os.path.getsize(f) for f in files) / 1e6
        m["write.files"] = len(files)
        spark.catalog.clearCache()

        written = spark.read.parquet(table)
        with tr.span("normalize.stats"):
            st = enorm.compute_stats(written, n_rows=n_out)
        with tr.span("normalize.apply"):
            enorm.normalize(written, st).write.mode("overwrite").parquet(
                os.path.join(out, "normalized"))
        n_norm = spark.read.parquet(os.path.join(out, "normalized")).count()
        checks.append(None if n_norm == n_out
                      else f"traced normalized rows {n_norm} != {n_out}")

        raw = spark.read.parquet(self.ticks)
        table = os.path.join(out, "resume")
        with tr.span("snapshots.resume"):
            t0_ms = time.time() * 1000
            stats = esnap.run_resumable(spark, raw, table,
                                        batch_sources=BATCH_SOURCES)
        spark.catalog.clearCache()
        snaps = _snapshots(table)
        commits = [t0_ms] + [s["committed_at_ms"] for s in snaps]
        m["snapshots.batches"] = stats["snapshots"]
        m["snapshots.batch_s_max"] = max(np.diff(commits), default=0) / 1e3
        with tr.span("snapshots.recount"):
            for snap in snaps:
                (spark.read.parquet(table)
                 .filter(F.col("source").isin(list(snap["partitions"])))
                 .groupBy("source").agg(F.count(F.lit(1))).collect())
        with tr.span("snapshots.manifest_read"):
            esnap.SnapshotLog(table).completed_partitions()
        with tr.span("snapshots.rerun"):
            rerun = esnap.run_resumable(spark, raw, table,
                                        batch_sources=BATCH_SOURCES)
        spark.catalog.clearCache()
        checks += self._check_manifests(snaps, rerun)

        seqs = spark.read.parquet(self.seq_dir)
        with tr.span("tokens.series"):
            etok.with_derived_series(seqs).persist().count()
        with tr.span("tokens.full_features"):
            etok.full_features(seqs).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)

        tr.attach_stage_counters({"bars.seq", "bars.partial", "bars.finish",
                                  "skew.pipeline", "normalize.stats",
                                  "tokens.full_features"})
        bars = ("bars.seq", "bars.partial", "bars.finish")
        m["bars.seq_s"] = tr.seconds("bars.seq")
        m["bars.partial_s"] = tr.seconds("bars.partial")
        m["bars.finish_s"] = tr.seconds("bars.finish")
        m["bars.shuffle_mb"] = sum(tr.stage(b, "shuffle_mb") for b in bars)
        m["bars.task_skew"] = max(tr.stage(b, "task_skew") for b in bars)
        sk = next(s for s in tr.spans if s["name"] == "skew.pipeline")
        m["skew.pipeline_s"] = tr.seconds("skew.pipeline")
        m["skew.shuffle_mb"] = tr.stage("skew.pipeline", "shuffle_mb")
        m["skew.shuffle_records_per_tick"] = (
            tr.stage("skew.pipeline", "shuffle_records") / m["bars.ticks_in"])
        m["skew.spill_mb"] = tr.stage("skew.pipeline", "spill_mb")
        m["skew.task_skew"] = tr.stage("skew.pipeline", "task_skew")
        m["skew.failed_tasks"] = tr.stage("skew.pipeline", "failed_tasks")
        m["skew.jvm_cpu_s"] = sk["cpu"]["jvm"]
        m["skew.python_cpu_s"] = sk["cpu"]["python"]
        m["skew.python_glue_cpu_s"] = (sk["cpu"]["python"]
                                       - m["features.kernel_s"]
                                       - m["labels.kernel_s"])
        m["write.s"] = tr.seconds("write")
        m["normalize.stats_s"] = tr.seconds("normalize.stats")
        m["normalize.stats_task_skew"] = tr.stage("normalize.stats", "task_skew")
        m["normalize.apply_s"] = tr.seconds("normalize.apply")
        m["snapshots.resume_s"] = tr.seconds("snapshots.resume")
        m["snapshots.recount_s"] = tr.seconds("snapshots.recount")
        m["snapshots.manifest_read_s"] = tr.seconds("snapshots.manifest_read")
        m["snapshots.rerun_s"] = tr.seconds("snapshots.rerun")
        m["tokens.series_s"] = tr.seconds("tokens.series")
        m["tokens.full_features_s"] = tr.seconds("tokens.full_features")
        m["tokens.task_skew"] = tr.stage("tokens.full_features", "task_skew")
        m["tokens.shuffle_mb"] = tr.stage("tokens.full_features", "shuffle_mb")
        return m, [c for c in checks if c], len(checks)

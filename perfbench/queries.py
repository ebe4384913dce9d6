"""The `queries` workload: `__spark_entry__.queries()` over the query
contract's fixed tables, one query at a time, each collected to the Spark
driver.

The tables are the query contract's sf0.01 test data (TESTDATA.md), copied
unchanged to perfbench/data so the benchmark reads nothing outside its
checkout; the seed permutes the query order. The DuckDB answers of
`oracle_sql()` are computed once per checkout and cached in the build
directory (the two recursive-CTE oracles take about a minute). An untimed
pass warms the session, then timed passes run PASS_QUERIES; the traced pass
runs all 50 entries."""

from __future__ import annotations

import hashlib
import importlib.util
import os
import pickle
import random
import time

import numpy as np
import pandas as pd

from . import procs

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = os.path.join(HERE, "data", "sf0.01")

# The timed pass: q15's pair self-join and the two single-task quantile
# sorts (q10, q13), the heavy shapes of ROADMAP item 4, next to
# engine/windows.py operators and aggregate, join and text-statistics
# shapes. The ANN, dedup and LM entries, which take seconds each and would
# dominate the pass, run in the traced pass only.
PASS_QUERIES = ("q01_tumbling_ohlc", "q03_lag_lead", "q04_rolling",
                "q05_sessionize", "q06_fill", "q07_asof_modes", "q09_topk",
                "q10_norm_binning", "q13_feature_stats",
                "q15_pair_similarity", "q20_langid", "q24_decayed_mean",
                "q27_join_agg", "q33_top_ngrams", "q41_session_window",
                "q61_length_profile")
SMOKE_QUERIES = ("q01_tumbling_ohlc", "q10_norm_binning", "q13_feature_stats")
SKEW_QUERIES = ("q10_norm_binning", "q13_feature_stats")


def _test_canon():
    """tests/test_entry_queries.py's order-insensitive canonical form."""
    path = os.path.join(os.path.dirname(HERE), "tests",
                        "test_entry_queries.py")
    spec = importlib.util.spec_from_file_location("_entry_queries_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def mismatch(canon, got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """tests/test_entry_queries.py's comparison: columns, row count, then
    each canonical column exact, or allclose at 1e-9 for floats."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g, e = canon(got), canon(exp)
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if gv.dtype.kind == "f":
            ok = np.allclose(gv, ev, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (pd.isna(gv) == pd.isna(ev)).all() and (
                gv[~pd.isna(gv)] == ev[~pd.isna(ev)]).all()
        if not ok:
            return f"column {c} differs from the oracle"
    return None


class Queries:
    kind = "engine"
    # A pass's time moves by 10-25% with the shared host's speed, and the
    # JIT is still warming up in the first passes after the warm-up one:
    # the reported pass is the mean of three
    min_passes = 3

    def __init__(self, root: str, work: str, seed: int, smoke: bool):
        import __spark_entry__ as em
        self.em, self.seed = em, seed
        self.entries = em.queries()
        self.pass_queries = SMOKE_QUERIES if smoke else PASS_QUERIES
        self.cache = os.path.join(os.path.dirname(work), "cache")
        self.tables = TABLES
        self.canon = _test_canon()

    def prepare(self) -> dict:
        em = self.em
        h = hashlib.sha256(repr(sorted(em.oracle_sql().items())).encode())
        for t in em.TABLES:
            with open(os.path.join(self.tables, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        answers = os.path.join(self.cache, f"answers-{h.hexdigest()[:16]}.pkl")
        if not os.path.isfile(answers):
            os.makedirs(self.cache, exist_ok=True)
            import duckdb
            con = duckdb.connect()
            for t in em.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.tables}/{t}.parquet'")
            ans = {n: con.execute(sql).df()
                   for n, sql in em.oracle_sql().items()}
            con.close()
            with open(answers + ".tmp", "wb") as f:
                pickle.dump(ans, f)
            os.replace(answers + ".tmp", answers)
        with open(answers, "rb") as f:
            self.answers = pickle.load(f)
        self.order = list(self.pass_queries)
        random.Random(self.seed).shuffle(self.order)
        return {"tables": "the query contract's fixed sf0.01 tables",
                "pass_queries": len(self.order)}

    def _run(self, spark, name: str) -> dict:
        q = {"name": name, "error": None, "got": None}
        t0 = time.perf_counter()
        try:
            q["got"] = self.entries[name](spark, self.tables).toPandas()
        except Exception as e:                             # noqa: BLE001
            q["error"] = f"{type(e).__name__}: {e}"
        q["s"] = time.perf_counter() - t0
        q["rows"] = 0 if q["got"] is None else len(q["got"])
        return q

    def warm_up(self, spark) -> dict:
        """One untimed pass: a cold pass takes 2-3x a warm one (JIT, Python
        worker start), and that warm-up varies more than the queries do."""
        return {"ops": [self._run(spark, n) for n in self.order]}

    def run_pass(self, spark, k: int) -> dict:
        cpu0 = procs.split()
        ops = [self._run(spark, n) for n in self.order]
        return {"ops": ops, "cpu": procs.delta(cpu0, procs.split())}

    def summarize(self, p: dict) -> dict:
        s = [o["s"] for o in p["ops"]]
        return {"s": sum(s), "rows": sum(o["rows"] for o in p["ops"]),
                "n_ops": len(s), "cpu": p["cpu"],
                "by_op": {o["name"]: o["s"] for o in p["ops"]}}

    def check(self, spark, p: dict) -> list[str]:
        bad = []
        for q in p["ops"]:
            msg = q["error"] or mismatch(self.canon, q["got"],
                                         self.answers[q["name"]])
            if msg:
                bad.append(f"{q['name']}: {msg}")
            q["got"] = None
        return bad

    def traced_pass(self, spark, tr) -> tuple[dict, list[str], int]:
        """Per-layer metrics, failed checks, operations attempted."""
        names = sorted(self.entries)
        random.Random(self.seed).shuffle(names)
        m, bad = {}, []
        for name in names:
            with tr.span(f"query.{name}") as sp:
                q = self._run(spark, name)
            msg = q["error"] or mismatch(self.canon, q["got"],
                                         self.answers[name])
            if msg:
                bad.append(f"{name}: {msg}")
            m[f"query.{name}_s"] = sp["end"] - sp["start"]
        tr.attach_stage_counters({f"query.{n}" for n in SKEW_QUERIES})
        qs = [sp for sp in tr.spans if sp["name"].startswith("query.")]
        m["queries.shuffle_mb"] = sum(sp["stage"]["shuffle_mb"] for sp in qs)
        m["queries.spill_mb"] = sum(sp["stage"]["spill_mb"] for sp in qs)
        m["query.q15_pair_similarity.shuffle_records"] = tr.stage(
            "query.q15_pair_similarity", "shuffle_records")
        for n in SKEW_QUERIES:
            m[f"query.{n}.task_skew"] = tr.stage(f"query.{n}", "task_skew")
        lat = sorted(m[f"query.{n}_s"] for n in names)
        m["queries.p50_s"] = float(np.percentile(lat, 50))
        m["queries.p80_s"] = float(np.percentile(lat, 80))
        return m, bad, len(names)

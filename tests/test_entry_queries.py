"""Driver-contract check: every queries() entry vs its oracle_sql() through
DuckDB at sf0.001 — row count, column set, and order-insensitive value match
(mimics the driver's CORRECTNESS gate)."""

import ast
import inspect
import re

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _duck(sql):
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        if df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_registry_covers_every_entry():
    """Without Spark: queries() and oracle_sql() name the same entries, and
    every module-level q* function is registered or reached from a
    registered entry, so a superseded entry cannot linger unverified."""
    assert set(QUERIES) == set(ORACLES)
    tree = ast.parse(inspect.getsource(entrymod))
    defs = {n.name: n for n in tree.body
            if isinstance(n, ast.FunctionDef) and re.match(r"q\d", n.name)}
    reached = set()
    todo = [f.__name__ for f in QUERIES.values()]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo += [c.func.id for c in ast.walk(defs[name])
                 if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                 and c.func.id in defs]
    assert sorted(set(defs) - reached) == []


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.count()
    assert rows > 0
    assert len(df.columns) >= 5


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    exp = _duck(ORACLES[name])
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
    assert len(got) == len(exp), f"{name}: rows {len(got)} vs {len(exp)}"
    g = _canon(got)
    e = _canon(exp)
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if gv.dtype.kind == "f":
            ok = np.allclose(gv, ev, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (pd.isna(gv) == pd.isna(ev)).all() and (
                (gv[~pd.isna(gv)] == ev[~pd.isna(ev)]).all())
        if not ok:
            mism = np.flatnonzero(~(pd.Series(gv).eq(pd.Series(ev))
                                    | (pd.isna(gv) & pd.isna(ev))))[:5]
            raise AssertionError(
                f"{name}.{c}: first mismatches at {mism}: "
                f"spark={gv[mism]} duck={ev[mism]}")

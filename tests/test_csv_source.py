"""CSV source parity vs a line-faithful Python transcription of
Pipeline/TickLoader.cs:30-115 (header drop, blank/# skip, per-field parse,
malformed drop + count)."""

from datetime import datetime

import pandas as pd
import pytest

from forex_feature_generator_spark.engine import tick_source

CSV = """Timestamp,Bid,Ask
2024-01-02 00:00:00,1.10000,1.10010
# a comment line that must be skipped
2024-01-02 00:00:01,1.10002,1.10012
not-a-date,1.1,1.2
2024-01-02 00:00:02,oops,1.10013

2024-01-02 00:00:03,1.10004
2024-01-02 00:00:04 , 1.10005 , 1.10015
#another comment
2024-01-02 00:00:05,1.10006,1.10016
"""


def _tickloader_reference(text: str):
    """TickLoader.cs transcription: returns (kept_rows, malformed_count)."""
    lines = text.split("\n")
    kept, malformed = [], 0
    for i, line in enumerate(lines):
        if i == 0:
            continue                      # header dropped (cs:37-41)
        if not line.strip() or line.startswith("#"):
            continue                      # blank/comment skip (cs:48-50)
        i1 = line.find(",")
        ok = i1 > 0
        if ok:
            rest = line[i1 + 1:]
            i2 = rest.find(",")
            ok = i2 > 0
        if ok:
            ts_s, bid_s, ask_s = (line[:i1].strip(), rest[:i2].strip(),
                                  rest[i2 + 1:].strip())
            try:
                ts = datetime.fromisoformat(ts_s)
                bid, ask = float(bid_s), float(ask_s)
                kept.append((ts, bid, ask))
                continue
            except ValueError:
                pass
        malformed += 1                    # cs:63 warn-and-drop
    return kept, malformed


def test_csv_source_matches_tickloader(spark, tmp_path):
    path = str(tmp_path / "ticks.csv")
    with open(path, "w") as f:
        f.write(CSV)

    exp_rows, exp_malformed = _tickloader_reference(CSV)
    got = (tick_source.load_ticks_csv(spark, path)
           .orderBy("ts").toPandas())
    diag = tick_source.csv_diagnostics(spark, path)

    assert len(got) == len(exp_rows) == 4
    assert diag["malformed"] == exp_malformed == 3
    assert diag["ticks"] == 4
    assert diag["lines"] == 7             # data lines seen (no header/comment/blank)
    exp = pd.DataFrame(exp_rows, columns=["ts", "bid", "ask"]).sort_values("ts")
    assert (got["ts"].to_numpy("datetime64[us]")
            == exp["ts"].to_numpy("datetime64[us]")).all()
    assert (got["bid"].to_numpy() == exp["bid"].to_numpy()).all()
    assert (got["ask"].to_numpy() == exp["ask"].to_numpy()).all()
    assert (got["source"] == "default").all()


def test_validate_ticks(spark):
    """ValidateTickData parity (Program.cs:135-177): spread stats in pips,
    extreme-spread flag, ordering-violation count."""
    import pandas as pd
    rows = [("s", i, i, 1.1000, 1.1001 + (0.01 if i == 5 else 0))
            for i in range(100)]
    pdf = pd.DataFrame(rows, columns=["source", "seq", "sec", "bid", "ask"])
    pdf["ts"] = pd.Timestamp("2024-01-02") + pd.to_timedelta(pdf.pop("sec"), unit="s")
    # one out-of-order timestamp (by seq order)
    pdf.loc[7, "ts"] = pd.Timestamp("2024-01-02 00:00:03")
    v = tick_source.validate_ticks(spark.createDataFrame(pdf))
    assert v["n_ticks"] == 100
    assert v["max_spread_pips"] == 101.0      # 1 pip + the planted 100-pip spike
    assert v["ts_violations"] == 1
    assert any("Extreme spread" in i for i in v["issues"])
    assert any("ordering" in i for i in v["issues"])


def test_validate_ticks_requires_arrival_order(spark):
    """Without an arrival-order column the ordering check would be vacuous
    (lag(ts) over ts-order can never exceed ts) — it must be SKIPPED loudly,
    not silently report 0."""
    import pandas as pd
    pdf = pd.DataFrame({
        "source": ["s"] * 10,
        "ts": pd.Timestamp("2024-01-02") + pd.to_timedelta(range(10), unit="s"),
        "bid": [1.1] * 10, "ask": [1.1001] * 10})
    v = tick_source.validate_ticks(spark.createDataFrame(pdf))
    assert v["ts_violations"] is None
    assert any("skipped" in i.lower() for i in v["issues"])


def test_csv_arrival_order_detects_ts_violation(spark, tmp_path):
    """load_ticks_csv carries file-order seq, so an out-of-order timestamp IN
    THE FILE is detected (TickLoader reads sequentially; ValidateTickData
    flags ts going backwards in arrival order)."""
    path = str(tmp_path / "ooo.csv")
    with open(path, "w") as f:
        f.write("Timestamp,Bid,Ask\n")
        f.write("2024-01-02 00:00:00,1.10000,1.10010\n")
        f.write("2024-01-02 00:00:05,1.10002,1.10012\n")
        f.write("2024-01-02 00:00:03,1.10003,1.10013\n")   # backwards in file
        f.write("2024-01-02 00:00:06,1.10004,1.10014\n")
    ticks = tick_source.load_ticks_csv(spark, path)
    assert "seq" in ticks.columns
    v = tick_source.validate_ticks(ticks)
    assert v["ts_violations"] == 1
    assert any("ordering" in i for i in v["issues"])


def test_csv_multi_partition_dense_seq_labels(spark, tmp_path):
    """A CSV that Spark splits into MANY input partitions must still yield a
    dense 0-based per-source seq — the label kernel indexes tick arrays
    positionally, so the raw monotonically_increasing_id (with ~2^33 gaps
    between splits) would crash or silently mislabel. Full pipeline parity
    vs the same ticks loaded as one in-memory DataFrame."""
    from forex_feature_generator_spark import synth
    from forex_feature_generator_spark.engine import skew as eskew

    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=3400,
                            hot_sources=0, seed=7, mean_gap_s=6.0)
    path = str(tmp_path / "mp.csv")
    with open(path, "w") as f:
        f.write("Timestamp,Bid,Ask\n")
        for r in ticks[["ts", "bid", "ask"]].itertuples(index=False):
            f.write(f"{r.ts},{r.bid!r},{r.ask!r}\n")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        loaded = tick_source.load_ticks_csv(spark, path)
        raw_parts = tick_source._raw(spark, path).rdd.getNumPartitions()
        assert raw_parts > 1, "fixture must actually split the file"
        seqs = sorted(r["seq"] for r in loaded.select("seq").collect())
        assert seqs == list(range(len(ticks)))   # dense 0..n-1, no split gaps

        got = (eskew.run_pipeline_salted(spark, loaded)
               .orderBy("ts_us").toPandas())
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    import pyspark.sql.functions as F
    ref_in = (spark.createDataFrame(ticks).drop("source")
              .withColumn("source", F.lit("default")).repartition(1))
    exp = eskew.run_pipeline_salted(spark, ref_in).orderBy("ts_us").toPandas()
    assert len(got) == len(exp) > 50
    assert (got["label"].to_numpy() == exp["label"].to_numpy()).all()
    assert (got["ts_us"].to_numpy() == exp["ts_us"].to_numpy()).all()
    feat_cols = [c for c in got.columns
                 if c not in ("source", "ts_us", "timestamp", "label")]
    import numpy as np
    assert np.allclose(got[feat_cols].to_numpy("float64"),
                       exp[feat_cols].to_numpy("float64"), atol=1e-9)


def test_csv_source_feeds_pipeline(spark, tmp_path):
    """Round-trip: a reference-shaped CSV drives the bar aggregation."""
    from forex_feature_generator_spark import synth
    from forex_feature_generator_spark.engine import bars as ebars
    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=3000,
                            hot_sources=0, seed=4)
    path = str(tmp_path / "full.csv")
    pdf = ticks[["ts", "bid", "ask"]].copy()
    with open(path, "w") as f:
        f.write("Timestamp,Bid,Ask\n")
        f.write("# generated corpus\n")
        for r in pdf.itertuples(index=False):
            f.write(f"{r.ts},{r.bid},{r.ask}\n")
        f.write("garbage,line,here,extra\n")
    loaded = tick_source.load_ticks_csv(spark, path)
    assert loaded.count() == 3000
    bars = ebars.aggregate_bars(ebars.with_seq(loaded), 1)
    ref_bars = ebars.aggregate_bars(ebars.with_seq(
        spark.createDataFrame(ticks).drop("source")
        .withColumn("source", __import__("pyspark.sql.functions",
                                         fromlist=["lit"]).lit("default"))), 1)
    a = bars.orderBy("bar_ts_us").toPandas()
    b = ref_bars.orderBy("bar_ts_us").toPandas()
    assert len(a) == len(b) > 10
    assert (a["close"].to_numpy() == b["close"].to_numpy()).all()
    assert (a["up"].to_numpy() == b["up"].to_numpy()).all()


def test_split_offsets_seq_matches_window(spark, tmp_path):
    """seq_mode='split-offsets' (the scale path: per-split counts + map-side
    offsets, NO sort) must produce exactly the window path's dense seq on a
    read Spark splits into many input partitions."""
    from forex_feature_generator_spark import synth
    ticks = synth.gen_ticks(n_sources=1, ticks_per_source=2500,
                            hot_sources=0, seed=11, mean_gap_s=6.0)
    path = str(tmp_path / "so.csv")
    with open(path, "w") as f:
        f.write("Timestamp,Bid,Ask\n")
        for i, r in enumerate(ticks[["ts", "bid", "ask"]]
                              .itertuples(index=False)):
            if i == 1200:
                f.write("malformed,row,here,extra\n")   # dropped on both paths
            f.write(f"{r.ts},{r.bid!r},{r.ask!r}\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        assert tick_source._raw(spark, path).rdd.getNumPartitions() > 1
        win = tick_source.load_ticks_csv(spark, path, seq_mode="window")
        so = tick_source.load_ticks_csv(spark, path, seq_mode="split-offsets")
        a = win.orderBy("seq").toPandas()
        b = so.orderBy("seq").toPandas()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert list(a["seq"]) == list(range(len(ticks)))
    assert list(b["seq"]) == list(range(len(ticks)))
    assert (a["ts"].to_numpy() == b["ts"].to_numpy()).all()
    assert (a["bid"].to_numpy() == b["bid"].to_numpy()).all()
    with pytest.raises(ValueError):
        tick_source.load_ticks_csv(spark, path, seq_mode="bogus")
